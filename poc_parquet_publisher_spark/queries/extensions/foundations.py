"""Extension entries x01-x150: dedup / similarity / text-quality
foundations, sampling, sessionization, streaming and graph basics.

Split (round 7) from the former single-file queries/extensions.py
(31,988 lines) preserving registration order; see the package
__init__ for the import order that reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table, read_parquet
from ...scale import pairs_within, zorder_key_sql
from ...ops import (
    curate,
    dedup,
    graph,
    packing,
    profile,
    sampling,
    similarity,
    text,
)
from ...ops.text import _toks
from .. import register

_STOP_EN = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS["en"])


@register(
    "x01_dedup_exact",
    """SELECT md5(lower(text)) AS h, MIN(doc_id) AS keep_id,
              count(*) AS dup_cnt
       FROM documents GROUP BY md5(lower(text)) ORDER BY h""",
    doc="exact dedup = one hash-groupBy (map-side partial agg); md5 keys "
        "cannot skew",
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text").orderBy("h")


@register(
    "x02_dedup_fingerprint",
    """SELECT md5(array_to_string(list_sort(list_distinct(
                string_split(lower(text), ' '))), ' ')) AS fingerprint,
              MIN(doc_id) AS keep_id, count(*) AS dup_cnt
       FROM documents
       GROUP BY 1 ORDER BY fingerprint""",
    doc="key-collision fingerprint (sorted distinct token bag) catches "
        "token reorderings exact dedup misses",
)
def x02_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fingerprint_dedup(docs, "doc_id", "text").orderBy("fingerprint")


# x03's UNSCORED shingle-blocked pair-count stage, shared by
# x03/x24/x44/x68/x70 (Jaccard and containment both score from it --
# pairs-sized arithmetic, trivial). Each registry entry stays
# standalone (any one derives the counts on first use), but when
# several run in one session -- the bench and the driver's correctness
# sweep both do -- the shingle self-join runs ONCE and the consumers
# read the lazily-localCheckpoint'ed counts (near-dup-count-sized,
# tiny next to the corpus). Keyed by applicationId so a restarted
# session never sees a stale RDD handle.
_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def _shared_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, 3)
    counts = _PAIRS_CACHE.get(key)
    if counts is None:
        docs = load_table(spark, sf_dir, "documents")
        counts = dedup.shingle_pair_counts(
            docs, "doc_id", "text"
        ).localCheckpoint(eager=False)
        _PAIRS_CACHE[key] = counts
    return counts


def _shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.score_pair_counts_jaccard(
        _shared_pair_counts(spark, sf_dir), 0.5
    )


# x03's pair derivation, shared verbatim by the x24 cluster oracle.
_X03_PAIRS_CTE = """t AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, len(string_split(lower(text), ' ')) - 1),
                  i -> array_to_string(
                         (string_split(lower(text), ' '))[i:i+2], ' ')
                )) AS sh
         FROM documents
         WHERE len(string_split(lower(text), ' ')) >= 3
       ), e AS (
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       ), pairs AS (
         SELECT id_a, id_b
         FROM p
         WHERE ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) >= 0.5
       )"""


@register(
    "x24_dedup_clusters",
    f"""WITH RECURSIVE {_X03_PAIRS_CTE},
       edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION
         SELECT id_b, id_a FROM pairs
       ),
       walk (node, lbl) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.node = e.v
       )
       SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node
       ORDER BY node""",
    doc="transitive duplicate clusters over x03's near-dup pairs: "
        "min-label propagation (O(diameter) rounds, each one edge-sized "
        "join + min-groupBy; corpus rows never move); keep node == rep "
        "to dedup transitively. Oracle: recursive CTE min reachable id",
)
def x24_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    return dedup.duplicate_clusters(pairs).orderBy("node")


@register(
    "x03_dedup_ngram_jaccard",
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
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       )
       SELECT id_a, id_b,
              ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS jaccard
       FROM p
       WHERE ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) >= 0.5
       ORDER BY id_a, id_b""",
    doc="near-dup via 3-gram shingle blocking: candidates come from a "
        "shingle equi-join, never an O(n^2) cross join; hot-shingle cap "
        "guards quadratic blocks at scale (no-op on this corpus)",
)
def x03_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_jaccard_pairs(spark, sf_dir).orderBy("id_a", "id_b")


@register(
    "x05_dedup_simhash",
    dedup.simhash_sql("duckdb", source="documents"),
    doc="64-bit SimHash as a pure expression pipeline (explode -> 64 "
        "conditional sums -> sign bits); oracle is the same SQL generated "
        "in the DuckDB dialect",
)
def x05_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


_BRUTE_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS raw_sim
  FROM (SELECT * FROM n WHERE vec_id < 20) q
  JOIN n c ON q.vec_id != c.vec_id
), r AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY raw_sim DESC, neighbor_id)
              AS BIGINT) AS rnk,
         ROUND(raw_sim, 4) AS sim
  FROM s
)
SELECT query_id, neighbor_id, rnk, sim FROM r
WHERE rnk <= 3 ORDER BY query_id, rnk
"""


@register(
    "x07_sim_bruteforce_topk",
    _BRUTE_TOPK_ORACLE,
    doc="exact cosine top-3 for 20 query vectors: query side broadcast as "
        "a numpy matrix, corpus streams through mapInPandas in Arrow "
        "batches (one BLAS matmul per batch, partial top-k per batch)",
)
def x07_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return (
        similarity.brute_force_topk(emb, q, k=3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    )


_NEARDUP_ORACLE_TMPL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= {thr}
ORDER BY id_a, id_b
"""


@register(
    "x09_embedding_neardup",
    _NEARDUP_ORACLE_TMPL.format(thr=0.4),
    doc="embedding-cosine near-dup pairs; correctness tier is the exact "
        "pair scan (measured t ~ n^1.21 in the round-9 scale probe -- "
        "the by-design quadratic oracle tier x28's recall gate scores "
        "against), scale tier is x28 (LSH-banded candidates, n^1.29 "
        "under the lsh_params_for schedule). The fixture embeddings "
        "are near-random (max pairwise cosine ~0.51), so the "
        "threshold sits at 0.4 to exercise non-empty output",
)
def x09_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, threshold=0.4
    ).orderBy("id_a", "id_b")


@register(
    "x10_text_tokens",
    f"""SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                    '{text.TOKEN_REGEX}')) AS BIGINT) AS n_re_tokens,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents ORDER BY doc_id""",
    doc="token counting: whitespace + BPE-ish regex, expression-only",
)
def x10_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x11_text_quality",
    f"""SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
               ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len(string_split(lower(text), ' ')), 4) AS avg_tok_len,
               ROUND(CAST(len(list_filter(string_split(lower(text), ' '),
                         t -> t IN ({_STOP_EN}))) AS DOUBLE)
                     / len(string_split(lower(text), ' ')), 4) AS stop_ratio,
               ROUND(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                          AS DOUBLE)
                     / CAST(length(text) AS DOUBLE), 4) AS alpha_ratio
        FROM documents ORDER BY doc_id""",
    doc="quality scoring: length/stopword/alpha ratios (DuckDB "
        "regexp_replace needs the 'g' flag to match Spark's replace-all)",
)
def x11_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_scores(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x12_text_langid",
    text.lang_id_oracle_sql(),
    doc="stopword-vote language ID; tie-break ladder reproduced verbatim "
        "in the generated oracle SQL",
)
def x12_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x14_text_rolling_fingerprint",
    text.rolling_fingerprint_oracle_sql(),
    doc="winnowing-style rolling fingerprint: min md5 over 8-token "
        "shingles, expression-only (narrow, codegen); oracle generated "
        "in the DuckDB dialect from the same spec",
)
def x14_text_rolling_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.rolling_fingerprint(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x19_tfidf",
    text.tf_idf_oracle_sql(),
    doc="top-5 TF-IDF terms per document: two groupBys sharing the term "
        "shuffle key + a hash join back on the small aggregated term "
        "table; widest intermediate is one row per distinct (doc, term)",
)
def x19_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.tf_idf(docs, "doc_id", "text")
        .select("doc", "term", "tf", "df_cnt", "tfidf")
        .orderBy("doc", "rnk")
        .drop("rnk")
    )


@register(
    "x20_text_scrub",
    text.scrub_oracle_sql(),
    doc="PII/URL scrubbing: chained regexp_replace to typed placeholders "
        "(<URL>/<EMAIL>/<PHONE>), codegen-only; DuckDB oracle needs the "
        "'g' flag for replace-all parity",
)
def x20_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.scrub(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x18_deterministic_split",
    sampling.split_sql("duckdb", "documents", "doc_id"),
    doc="content-keyed train/test assignment: md5-bucket thresholding, a "
        "pure function of the key -- stable under retries, repartitioning, "
        "and engines (unlike df.sample), hash-verified row by row",
)
def x18_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.deterministic_split(docs, "doc_id", test_fraction=0.25)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _events_stream(
    spark: SparkSession, sf_dir: str, tmp: str, copies: int
) -> DataFrame:
    """``events`` as a file stream for the build-time drains: written
    ``copies`` times under ``tmp`` as 4-file parquet, then opened as a
    readStream with the schema read back from the rewrite."""
    src = f"{tmp}/events"
    base = load_table(spark, sf_dir, "events").repartition(4)
    for i in range(copies):
        base.write.mode("append" if i else "overwrite").parquet(src)
    schema = read_parquet(spark, src).schema
    return spark.readStream.schema(schema).parquet(src)


@register(
    "x27_streaming_window",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
              count(*) AS n_events,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
                  AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="Q27's STREAMING variant run to completion: file readStream -> "
        "watermarked tumbling window -> complete-mode memory sink "
        "(availableNow drain). Hash-matched against the same batch SQL "
        "-- stream == batch is the exactly-once/window-correctness "
        "contract. Events re-materialize as micros parquet first (the "
        "nanos physical type can't stream through a fixed schema)",
)
def x27_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...streaming.windows import drain_to_memory, windowed_event_counts

    with tempfile.TemporaryDirectory(
        prefix="x27_stream_", ignore_cleanup_errors=True
    ) as tmp:
        counts = drain_to_memory(
            windowed_event_counts(_events_stream(spark, sf_dir, tmp, 1)),
            "complete",
            f"{tmp}/ckpt",
        )
    return (
        counts.select(
            F.col("window_start").cast("timestamp_ntz").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "x26_boilerplate_ngrams",
    text.boilerplate_ngrams_oracle_sql(),
    doc="boilerplate profile: 3-gram shingles shared by >= 3 documents "
        "(headers/templates curation strips). Per-doc distinct shingles "
        "make count(*) the document frequency -- one partial+final "
        "hash-groupBy, no distinct aggregate",
)
def x26_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.boilerplate_ngrams(docs, "doc_id", "text")


_MIX_FRACTIONS = {"es": 0.75, "zh": 0.25}


@register(
    "x25_stratified_sample",
    sampling.stratified_sample_sql(
        "duckdb", "documents", "doc_id", "lang", _MIX_FRACTIONS,
        default_fraction=0.5,
    ).replace("SELECT *", "SELECT doc_id, lang, source")
    + " ORDER BY doc_id",
    doc="per-stratum deterministic sampling (data mixing): each language "
        "keeps its target rate via key-hash thresholding -- a pure "
        "narrow filter (per-stratum threshold folds into one CASE), "
        "stable under retries/rescale, no RNG state, no shuffle",
)
def x25_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.stratified_sample(
            docs, "doc_id", "lang", _MIX_FRACTIONS, default_fraction=0.5
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "x13_multimodal_meta",
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
              sha256(text) AS sha_hex
       FROM documents ORDER BY doc_id""",
    doc="typed metadata over opaque payloads (byte length + content hash); "
        "the binary decode path itself is ops/multimodal.py (mapInPandas), "
        "exercised in tests -- no codec libs in this container",
)
def x13_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("byte_len"),
        F.sha2(F.col("text"), 256).alias("sha_hex"),
    ).orderBy("doc_id")


@register(
    "x21_sessionize",
    """WITH ordered AS (
         SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events
       ), flagged AS (
         SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
         FROM ordered
       ), sessions AS (
         SELECT user_id, event_id, ts,
                CAST(SUM(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_id
         FROM flagged
       )
       SELECT user_id, session_id, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM sessions GROUP BY user_id, session_id
       ORDER BY user_id, session_id""",
    doc="gap-based sessionization (30 min idle closes a session): lag to "
        "detect gaps, running sum of gap flags as the session id, then a "
        "per-session rollup -- the batch analog of a session window, one "
        "shuffle on user_id reused by both window and groupBy",
)
def x21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NTZ won't cast to long directly; timestamp->long = epoch seconds
    # (value-preserving under the pinned UTC session zone)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(run).cast("long")
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "x22_histogram",
    """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
              count(*) AS n,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
                  AS sum_value
       FROM events GROUP BY bucket ORDER BY bucket""",
    doc="fixed-width histogram via floor-division bucketing (portable; "
        "DuckDB has no width_bucket): one hash aggregate, the constant-"
        "memory distribution profile",
)
def x22_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.floor(F.col("value") / 10.0).cast("long").alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .orderBy("bucket")
    )


@register(
    "x29_asof_join",
    """SELECT p.event_id AS purchase_id, p.user_id,
              p.ts AS purchase_ts,
              c.click_id, c.click_ts, c.click_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       LEFT JOIN LATERAL (
         SELECT event_id AS click_id, ts AS click_ts,
                ROUND(value, 4) AS click_value
         FROM events c
         WHERE c.user_id = p.user_id AND c.event_type = 'click'
           AND (c.ts < p.ts
                OR (c.ts = p.ts AND c.event_id < p.event_id))
         ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
       ) c ON TRUE
       ORDER BY purchase_id""",
    doc="as-of join: each purchase picks the user's most recent strictly-"
        "prior click. Spark side is the union+window form (ONE user_id "
        "shuffle, O(1) running state -- ops/temporal.py asof_join); the "
        "oracle is an independent LATERAL argmax formulation, so the "
        "hash match checks semantics, not a shared plan",
)
def x29_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import temporal

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = temporal.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        right_values={
            "event_id": "click_id",
            "ts": "click_ts",
            "value": "click_value",
        },
        left_order="purchase_id",
        right_order="event_id",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        F.round("click_value", 4).alias("click_value"),
    ).orderBy("purchase_id")


@register(
    "x30_range_join",
    """WITH e AS (SELECT event_id AS error_id, ts AS error_ts
                  FROM events WHERE event_type = 'error'),
            c AS (SELECT event_id, ts, value
                  FROM events WHERE event_type = 'click')
       SELECT e.error_id,
              count(c.event_id) AS n_clicks,
              ROUND(CAST(COALESCE(
                    SUM(CAST(c.value AS DECIMAL(18,4))), 0) AS DOUBLE), 4)
                  AS sum_click_value
       FROM e LEFT JOIN c
         ON c.ts >= e.error_ts - INTERVAL 5 MINUTE
        AND c.ts <= e.error_ts + INTERVAL 5 MINUTE
       GROUP BY e.error_id
       ORDER BY e.error_id""",
    doc="tolerance range join: clicks within +/-5 minutes of each error "
        "event (any user). Spark side blocks on tolerance-width time "
        "buckets -- the smaller (error) side probes its 3 covering "
        "buckets, the join is a bucket equi-join + exact residual "
        "filter (ops/temporal.py range_join_pairs), never a nested "
        "loop; the oracle states the raw inequality predicate",
)
def x30_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import temporal

    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    pairs = temporal.range_join_pairs(
        errors, clicks, "error_ts", "click_ts", tolerance_seconds=300
    )
    per_error = pairs.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(
            F.sum(F.col("click_value").cast("decimal(18,4)")).cast("double"),
            4,
        ).alias("sum_click_value"),
    )
    return (
        errors.select("error_id")
        .join(per_error, "error_id", "left")
        .select(
            "error_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("sum_click_value", F.lit(0.0)).alias(
                "sum_click_value"
            ),
        )
        .orderBy("error_id")
    )


@register(
    "x31_repetition_scores",
    text.repetition_scores_oracle_sql(),
    doc="within-document repetition (Gopher-style gates): duplicate-"
        "token ratio (narrow, scan-speed) + modal-bigram mass (explode "
        "-> two hash-groupBys on the doc key -> join back to the narrow "
        "base; widest intermediate is one row per distinct (doc, "
        "bigram), never corpus-quadratic)",
)
def x31_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_scores(docs, "doc_id", "text").orderBy("doc_id")


_TOKEN_BUDGETS = {"es": 5000, "zh": 2000}


@register(
    "x33_token_budget_sample",
    sampling.token_budget_sample_sql(
        "documents",
        "doc_id",
        "lang",
        "len(string_split(lower(text), ' '))",
        _TOKEN_BUDGETS,
    ),
    doc="token-budget data mixing: each language keeps rows in "
        "deterministic md5(key) order until its TOKEN cap (not row "
        "fraction) is hit -- the mixture primitive when recipe targets "
        "are token counts. One shuffle on the stratum key; running-sum "
        "window, inclusive cap",
)
def x33_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        "lang",
        F.size(_toks("text")).cast("long").alias("n_toks"),
    )
    return (
        sampling.token_budget_sample(
            with_toks, "doc_id", "lang", "n_toks", _TOKEN_BUDGETS,
            default_budget=1000,
        )
        .select("doc_id", "lang", "n_toks", "cum_tokens")
        .orderBy("doc_id")
    )


@register(
    "x04_dedup_minhash",
    None,  # approximate: validated against exact Jaccard in tests
    doc="MinHash+LSH banded near-dup join (pyspark.ml), the sub-quadratic "
        "scale path; rows-only driver check",
)
def x04_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
    ).orderBy("id_a", "id_b")


@register(
    "x06_simhash_neardup",
    dedup.simhash_pairs_oracle_sql(),
    doc="simhash near-dup pairs via 16-bit banding (pigeonhole: hamming<=3 "
        "pairs share a band) -- equi-join, no cross join. Oracle: the "
        "x05 simhash SQL + band self-join + per-bit Hamming, all plain "
        "SQL, so the full pair set is hash-verified (plus the exactness "
        "tests)",
)
def x06_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sim = dedup.simhash(docs)
    return dedup.simhash_hamming_pairs(sim).orderBy("id_a", "id_b")


@register(
    "x08_sim_ann_lsh",
    None,  # approximate; recall vs brute force asserted in tests
    doc="random-hyperplane LSH ANN: deterministic md5-derived hyperplanes, "
        "banded signature equi-join for candidates, scoring via a "
        "candidate->corpus-vector equi-join (only the query matrix is "
        "broadcast) -- the 100 TB path: the corpus is hash-partitioned "
        "by bucket, never cross-joined, never collected",
)
def x08_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return (
        similarity.lsh_topk(emb, q)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    )


@register(
    "x15_sim_ann_ivf",
    None,  # approximate candidate set; recall vs brute force in tests
    doc="IVF-flat ANN: k-means coarse quantizer, queries probe n_probe "
        "nearest centroids, candidates from an equi-join on centroid id "
        "(corpus hash-partitioned by cluster; ~n_probe/n_centroids of it "
        "scanned per query), exact cosine scoring via the same "
        "candidate->vector equi-join as x08",
)
def x15_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return (
        similarity.ivf_topk(emb, q)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    )


@register(
    "x28_embedding_neardup_lsh",
    None,  # approximate candidate set; recall vs the exact x09 scan in tests
    doc="scale-tier embedding near-dup: hyperplane-LSH banded self-join "
        "for candidate pairs, then exact cosine on the pair (vectors "
        "attached via two equi-joins back to the corpus); x09's exact "
        "all-pairs scan stays as the oracle/correctness tier only. "
        "Since round 9 the REGISTERED entry runs the deployment "
        "schedule similarity.lsh_params_for(count, 0.4, 0.95): band "
        "width grows ~log2(n/256) so per-bucket occupancy stays "
        "bounded as the corpus grows, and n_bands is re-solved from "
        "the band collision probability so every pair at cosine >= "
        "0.4 survives with p >= 0.95 AT ANY n (the analytic recall "
        "guarantee; measured 0.96 on the fixture and on 3x/10x "
        "amplified probes). Scale law: candidates ~ n^(1+rho), rho = "
        "ln(1/0.631)/ln 2 = 0.664 at the deliberately loose "
        "threshold 0.4 -- the hyperplane-LSH theory optimum, a "
        "property of the THRESHOLD, not the plan (the round-8 fixed "
        "(16,8) form, retired to tests, paid the same exponent with "
        "~2.4x MORE candidates at 10x scale). True near-dup sweeps "
        "(c>=0.9) price at n^1.28 under this schedule; loose sweeps "
        "larger than this route to x15's IVF tier",
)
def x28_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # parquet-metadata count: one cheap job, no scan of the vector col
    n_planes, n_bands = similarity.lsh_params_for(
        emb.count(), threshold=0.4, target_recall=0.95
    )
    return similarity.lsh_neardup_pairs(
        emb, n_planes=n_planes, n_bands=n_bands,
    ).orderBy("id_a", "id_b")


@register(
    "x16_sketch_distinct",
    None,  # HLL++ sketch is engine-specific; error bound gated in tests
    doc="approximate distinct counts (HyperLogLog++, rsd=0.02): the "
        "constant-memory path for cardinality at 100 TB where exact "
        "count(DISTINCT) would shuffle every key",
)
def x16_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
        F.approx_count_distinct("o_orderkey", rsd=0.02).alias("approx_orders"),
    )


@register(
    "x17_sketch_quantiles",
    None,  # sketch-based quantiles differ per engine; tolerance in tests
    doc="approximate quantiles (Greenwald-Khanna, accuracy 1e4) over "
        "order totals: single-pass, mergeable per partition -- the "
        "bounded-memory alternative to a full sort",
)
def x17_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.percentile_approx(
            "o_totalprice", [0.5, 0.9, 0.99], 10000
        ).alias("pcts")
    ).select(
        F.round(F.element_at("pcts", 1), 4).alias("p50"),
        F.round(F.element_at("pcts", 2), 4).alias("p90"),
        F.round(F.element_at("pcts", 3), 4).alias("p99"),
    )


@register(
    "x32_pack_sequences",
    None,  # greedy bin packing is not SQL-expressible; invariants
    # (every doc assigned once, budget respected, determinism under
    # repartitioning) gated in tests/test_packing.py
    doc="sequence packing for training batches: docs hash into packing "
        "buckets (one shuffle), a first-fit-decreasing packer runs per "
        "bucket in applyInPandas (only (id, n_tokens) crosses the "
        "Python boundary), sequence ids are (bucket << 32) | local -- "
        "globally unique with zero coordination",
)
def x32_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        F.size(_toks("text")).cast("long").alias("n_toks"),
    )
    return packing.pack_sequences(
        with_toks, "doc_id", "n_toks", budget=512, n_buckets=16
    ).orderBy("doc_id")


@register(
    "x23_curate_pipeline",
    curate.curate_oracle_sql(),
    doc="end-to-end corpus curation: scrub -> quality/language gates -> "
        "exact dedup -> near-dup removal -> deterministic split, narrow "
        "filters first so the only expensive stage (the shingle join) "
        "sees the already-shrunk corpus. Oracle: ONE DuckDB query "
        "composing the already-verified stage oracles (x20 scrub, x12 "
        "lang ladder, x01 dedup, x03 pairs, x24 recursive CC, x18 "
        "split) -- the composition itself is hash-checked, plus "
        "invariants in tests",
)
def x23_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curate.curate(docs).orderBy("doc_id")


# x34's oracle mirrors x03's k=3 shingle CTE; the benchmark is the
# deterministic doc_id % 25 == 0 slice (a stand-in eval set -- ~4% of
# docs, small enough that the Spark side broadcasts it by contract).
_X34_CONTAMINATION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
), e AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
), bench AS (
  SELECT DISTINCT shingle FROM e WHERE doc_id % 25 = 0
), ov AS (
  SELECT e.doc_id, count(*) AS n_overlap
  FROM e JOIN bench USING (shingle) GROUP BY e.doc_id
), per AS (
  SELECT DISTINCT doc_id, n_sh FROM e
)
SELECT per.doc_id AS doc, per.n_sh,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / per.n_sh, 4)
           AS contamination
FROM per LEFT JOIN ov USING (doc_id)
ORDER BY doc
"""


@register(
    "x34_contamination",
    _X34_CONTAMINATION_ORACLE,
    doc="benchmark-contamination scores: fraction of each doc's distinct "
        "3-gram shingles that occur in the eval set (doc_id % 25 == 0 "
        "slice). Benchmark shingles ride a broadcast join; the corpus "
        "side is one explode + one groupBy(doc) -- decontamination is "
        "a threshold filter on the score",
)
def x34_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    return dedup.contamination_scores(
        docs, bench, "doc_id", "text"
    ).orderBy("doc")


@register(
    "x35_semantic_dedup",
    None,  # k-means clustering is not SQL-expressible; precision /
    # co-clustered-recall / determinism gated in tests/test_ops_quality.py
    doc="SemDeDup-style semantic dedup: coarse k-means clusters (trained "
        "on a bounded sample), within-cluster cosine >= threshold drops "
        "the higher id. Never all-pairs; cross-cluster dups are the "
        "documented recall trade (Abbas et al. 2023)",
)
def x35_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, threshold=0.4, n_centroids=8
    ).orderBy("id")


@register(
    "x36_weighted_sample",
    "SELECT * FROM ("
    + sampling.weighted_sample_sql("documents", "doc_id", "n_chars", n=100)
    + ") ORDER BY doc_id",
    doc="deterministic weighted priority sample: 100 docs by priority "
        "u/w (u = md5-derived 32-bit uniform, w = n_chars) -- "
        "division-only keys are IEEE-exact cross-engine, one "
        "TakeOrdered, no shuffle, stable under retries",
)
def x36_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.weighted_sample(docs, "doc_id", "n_chars", n=100)
        .select("doc_id", "n_chars", "priority")
        .orderBy("doc_id")
    )


@register(
    "x37_unigram_logprob",
    text.unigram_logprob_oracle_sql(),
    doc="per-doc mean unigram log10-prob under the corpus's own unigram "
        "LM (cheap fluency proxy, ancestor of perplexity filtering): "
        "two groupBys + a join on the aggregated term table, DECIMAL-"
        "accumulated so shuffle order never changes the hash",
)
def x37_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_logprob(docs, "doc_id", "text").orderBy("doc")


@register(
    "x38_source_mix",
    text.source_mix_stats_oracle_sql(),
    doc="mixture report per source: doc/token counts, token share, and "
        "the uniform-target reweight factor -- the bookkeeping half of "
        "data mixing (enforcement = stratified/token-budget samplers); "
        "one hash-groupBy + broadcast totals",
)
def x38_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.source_mix_stats(docs, "source", "text").orderBy("stratum")


@register(
    "x39_chunk_documents",
    packing.chunk_documents_oracle_sql(),
    doc="overlapping token-window chunking (RAG / long-doc context "
        "prep): chunk i = tokens [i*48, i*48+64); narrow explode of "
        "integer-arithmetic windows, no shuffle, no Python, "
        "bit-identical cross-engine",
)
def x39_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return packing.chunk_documents(
        docs, "doc_id", "text"
    ).orderBy("doc_id", "chunk_idx")


@register(
    "x40_minhash_deterministic",
    dedup.minhash_banded_pairs_oracle_sql("documents"),
    doc="deterministic MinHash-LSH: 8 md5-sliced minhash components "
        "(2 digests/shingle), 4 bands of 2, candidates = docs sharing "
        "a band -- unlike pyspark.ml's x04 the hashes are "
        "engine-independent, so the full pair set is oracle-verified, "
        "not just rows-counted. Signatures fold over the shingle array "
        "(no corpus explode); one groupBy(band) shuffle",
)
def x40_minhash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_banded_pairs(docs, "doc_id", "text").orderBy(
        "id_a", "id_b"
    )


@register(
    "x41_heavy_hitters",
    """WITH c AS (
         SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
       ), t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c)
       SELECT key, cnt, ROUND(cnt / total, 4) AS share
       FROM c, t ORDER BY cnt DESC, key LIMIT 20""",
    doc="skew diagnostic: exact top-20 heaviest join keys with counts "
        "and share -- decides salted_join / AQE skew handling. One "
        "hash-groupBy + TakeOrdered, never a full sort",
)
def x41_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem")
    return scale.heavy_hitters(li, "l_suppkey")


@register(
    "x42_shard_shuffle",
    sampling.shard_shuffle_sql("documents", "doc_id", n_shards=8),
    doc="deterministic pre-training shard shuffle: (shard, pos) from "
        "two independent md5 draws -- a reproducible global order with "
        "no RNG state; one shuffle on the shard key, windows run per "
        "shard in parallel (never a single global sort)",
)
def x42_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.shard_shuffle(docs, "doc_id", n_shards=8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    )


@register(
    "x43_profile_numeric",
    profile.profile_numeric_oracle_sql(
        "orders", ["o_custkey", "o_orderkey", "o_totalprice"]
    ),
    doc="column profiling (the ANALYZE/Deequ pass): nulls, exact "
        "distinct, min/max/mean per numeric column, all from ONE scan "
        "(single agg row unpivoted via stack); mean is DECIMAL-"
        "accumulated. At 100 TB swap exact distinct for x16's HLL++",
)
def x43_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return profile.profile_numeric(
        orders, ["o_custkey", "o_orderkey", "o_totalprice"]
    ).orderBy("col")


@register(
    "x44_containment_pairs",
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
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       )
       SELECT id_a, id_b,
              ROUND(CAST(inter AS DOUBLE) / least(n_a, n_b), 4)
                  AS containment
       FROM p
       WHERE ROUND(CAST(inter AS DOUBLE) / least(n_a, n_b), 4) >= 0.8
       ORDER BY id_a, id_b""",
    doc="shingle containment pairs (inter / min set size): the "
        "asymmetric pass that catches a short doc quoted inside a long "
        "one, which symmetric Jaccard under-scores; scores the SAME "
        "shared pair-count stage as x03 (derived once per session)",
)
def x44_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.score_pair_counts_containment(
        _shared_pair_counts(spark, sf_dir), threshold=0.8
    ).orderBy("id_a", "id_b")


@register(
    "x45_duplicate_spans",
    dedup.duplicate_spans_oracle_sql(),
    doc="exact duplicate-span detection (Lee et al. 2022 substring-dedup "
        "signal): per-doc fraction of token positions covered by a "
        "5-token window occurring >= 2 times corpus-wide; positional "
        "windows exploded once, duplicate hashes via hash-groupBy + "
        "LeftSemi probe (hot-key-safe: partial agg + AQE-splittable, "
        "unlike an analytic window), positions exploded x k -- "
        "O(total_tokens * k), never pairwise",
)
def x45_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", k=5).orderBy(
        "doc_id"
    )


@register(
    "x46_temperature_mixture",
    sampling.temperature_mixture_sql(),
    doc="temperature-scaled mixture schedule at T=2 (w_i ~ sqrt(share)): "
        "the multilingual/multi-source upweight-the-tail sampling plan; "
        "alpha=1/2 keeps it oracle-hash-exact (IEEE sqrt is correctly "
        "rounded, pow is not); sqrt floor-scaled to ints before summing "
        "so the denominator is order-independent",
)
def x46_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mixture(docs, "source", "text").orderBy(
        "stratum"
    )


@register(
    "x47_vocab_coverage",
    text.vocab_coverage_sql(),
    doc="vocabulary coverage curve: top-100 tokens with cumulative "
        "corpus-coverage fraction (tokenizer/vocab construction); "
        "explode + hash-groupBy + TakeOrdered; the only window runs "
        "over the already-limited 100 rows",
)
def x47_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, "text", top_n=100)


@register(
    "x48_session_window",
    """WITH ordered AS (
         SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events
       ), flagged AS (
         SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
         FROM ordered
       ), sessions AS (
         SELECT user_id, ts,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                    AS session_id
         FROM flagged
       )
       SELECT user_id, MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 30 MINUTE AS session_end,
              count(*) AS n_events
       FROM sessions GROUP BY user_id, session_id
       ORDER BY user_id, session_start""",
    doc="native dynamic session windows (F.session_window, gap 30 min): "
        "the operator x21's lag/gap method emulates relationally; "
        "streaming-capable with watermark-evicted state. Oracle is the "
        "relational mirror -- note the >= split: a gap exactly equal to "
        "the gap duration starts a NEW session (window ends exclusive)",
)
def x48_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...streaming.windows import session_event_counts

    events = load_table(spark, sf_dir, "events")
    return session_event_counts(events).orderBy("user_id", "session_start")


@register(
    "x49_pii_stats",
    text.pii_stats_sql(),
    doc="per-doc PII counts by type (the audit half of the privacy "
        "pass; x20 scrub is the enforcement half): counts mirror the "
        "scrub's progressive masking order so n_pii == n_redactions "
        "exactly; pure regexp_count chain, codegen, scan-speed",
)
def x49_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.pii_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x50_snapshot_diff",
    """WITH old AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3
       ), new AS (
         SELECT doc_id,
                CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                    AS text
         FROM documents WHERE doc_id % 10 != 6
       ), oh AS (SELECT doc_id, md5(text) AS old_h FROM old),
       nh AS (SELECT doc_id, md5(text) AS new_h FROM new)
       SELECT COALESCE(oh.doc_id, nh.doc_id) AS doc_id,
              CASE WHEN old_h IS NULL THEN 'added'
                   WHEN new_h IS NULL THEN 'removed'
                   WHEN old_h = new_h THEN 'unchanged'
                   ELSE 'changed' END AS status
       FROM oh FULL OUTER JOIN nh USING (doc_id)
       ORDER BY doc_id""",
    doc="corpus snapshot diff (dataset-versioning audit): added/removed/"
        "changed/unchanged by content hash across two corpus versions "
        "derived deterministically from the fixture (doc_id%10=3 "
        "missing from old, doc_id%10=6 dropped from new, doc_id%7=0 "
        "edited); one full-outer equi-join of two narrow (id, md5) "
        "projections -- content never shuffles",
)
def x50_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import incremental

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 10 != 6)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return incremental.snapshot_diff(old, new, "doc_id", "text").orderBy(
        "doc_id"
    )


@register(
    "x51_oov_ratio",
    text.oov_ratio_sql(),
    doc="per-doc out-of-vocabulary ratio vs the corpus's own top-100 "
        "vocab (OOV filtering; the measurement side of x47's coverage "
        "curve): vocab is a TakeOrdered broadcast, the token stream "
        "explodes once and never shuffles beyond the doc-key groupBy",
)
def x51_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.oov_ratio(docs, "doc_id", "text", top_n=100).orderBy(
        "doc_id"
    )


@register(
    "x52_bigram_logprob",
    text.bigram_logprob_oracle_sql(),
    doc="per-doc mean bigram conditional log10-prob under the corpus's "
        "own bigram model (one order above x37's unigram proxy: junk "
        "SEQUENCES of individually-common tokens score low); context "
        "counts derived from the bigram table so the conditional "
        "normalizes exactly; x37's round-then-DECIMAL determinism",
)
def x52_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x53_json_quarantine",
    """WITH src AS (
         SELECT event_id,
                CASE WHEN event_id % 13 = 0 THEN '{bad json'
                     WHEN event_id % 17 = 0 THEN '{}'
                     ELSE props END AS props
         FROM events
       )
       SELECT event_id,
              CASE WHEN (CASE WHEN props IS NOT NULL AND json_valid(props)
                              THEN json_extract_string(props, '$.k')
                              ELSE NULL END) IS NOT NULL
                   THEN 'ok' ELSE 'quarantined' END AS status,
              CASE WHEN props IS NOT NULL AND json_valid(props)
                   THEN json_extract_string(props, '$.k')
                   ELSE NULL END AS k
       FROM src ORDER BY event_id""",
    doc="ingest quarantine for serialized-JSON columns: rows whose "
        "required JSON path fails to extract (malformed payload or "
        "missing key) are flagged instead of poisoning the pipeline -- "
        "the validation the reference's blind-marshal wire path lacks; "
        "corruption injected deterministically (event_id%13 malformed, "
        "%17 key-missing); row-local expressions, scan-speed. DuckDB "
        "json_extract errors on bad JSON so the oracle guards with "
        "json_valid -- Spark's get_json_object is NULL-on-bad for free",
)
def x53_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...pipeline.ingest import json_quarantine

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit("{bad json"))
        .when(F.col("event_id") % 17 == 0, F.lit("{}"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return json_quarantine(ev, "event_id", "props").orderBy("event_id")


@register(
    "x54_salted_join_agg",
    """SELECT l.l_suppkey, s.s_name,
              ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,8))
                    * (1 - CAST(l.l_discount AS DECIMAL(30,8))))
                    AS DOUBLE), 4) AS revenue
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       GROUP BY l.l_suppkey, s.s_name
       ORDER BY l.l_suppkey""",
    doc="skew-salted join under the hash gate: per-supplier revenue via "
        "scale.salted_join (big side salted into 16 sub-keys, dim side "
        "replicated per salt) must be row-identical to the plain join "
        "the oracle runs -- the salting is pure partitioning, zero "
        "semantics; DECIMAL-accumulated revenue",
)
def x54_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    j = scale.salted_join(li, sup, "l_suppkey", n_salts=16)
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(30,8)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(30,8)"))
    )
    return (
        j.groupBy("l_suppkey", "s_name")
        .agg(F.round(rev.cast("double"), 4).alias("revenue"))
        .orderBy("l_suppkey")
    )


@register(
    "x55_referential_integrity",
    """WITH e1 AS (
         SELECT 'orders->customer' AS edge,
                CAST(count(*) AS BIGINT) AS n_child,
                CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_orphans
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       ), e2 AS (
         SELECT 'lineitem->orders' AS edge,
                CAST(count(*) AS BIGINT) AS n_child,
                CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_orphans
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
       ), e3 AS (
         SELECT 'lineitem->supplier' AS edge,
                CAST(count(*) AS BIGINT) AS n_child,
                CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_orphans
         FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       ), u AS (
         SELECT * FROM e1 UNION ALL SELECT * FROM e2
         UNION ALL SELECT * FROM e3
       )
       SELECT edge, n_child, n_orphans,
              ROUND(CAST(n_orphans AS DOUBLE) / n_child, 4) AS orphan_rate
       FROM u ORDER BY edge""",
    doc="referential-integrity audit (Deequ-style DQ): orphan counts and "
        "rates for three FK edges of the fixture schema; each edge is "
        "one LEFT ANTI equi-join (broadcast for dim parents) feeding a "
        "1-row count -- the check a 100 TB ingest runs before joins "
        "silently drop rows",
)
def x55_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return profile.referential_integrity(
        [
            ("orders->customer", orders, "o_custkey", customer, "c_custkey"),
            ("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
            (
                "lineitem->supplier",
                lineitem,
                "l_suppkey",
                supplier,
                "s_suppkey",
            ),
        ]
    ).orderBy("edge")


@register(
    "x56_decile_report",
    profile.decile_report_oracle_sql("documents", "n_chars"),
    doc="distribution calibration report: bucket docs by the EXACT "
        "interpolated decile thresholds of n_chars (Spark percentile == "
        "DuckDB quantile_cont bit-for-bit, the q30 precedent), report "
        "per-bucket counts and ranges -- the table behind 'drop the "
        "bottom quality decile'; thresholds ride a broadcast 1-row "
        "array, assignment is a narrow fold, report is one hash agg. "
        "At 100 TB swap percentile_approx (x17) for the exact agg",
)
def x56_decile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return profile.decile_report(docs, "n_chars").orderBy("bucket")


@register(
    "x57_topk_per_source",
    """WITH ranked AS (
         SELECT source, doc_id, n_chars,
                CAST(row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id)
                     AS BIGINT) AS rnk
         FROM documents
       )
       SELECT source, doc_id, n_chars, rnk
       FROM ranked WHERE rnk <= 3
       ORDER BY source, rnk""",
    doc="take-best-N-per-domain curation selection: top-3 docs per "
        "source by length with a total tiebreak; ONE shuffle on the "
        "stratum key, per-key windows run in parallel (never a global "
        "sort), the rnk<=3 filter prunes window output early",
)
def x57_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("source", "rnk")
    )


@register(
    "x58_sliding_window",
    """WITH t AS (
         SELECT event_type,
                make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800
                                    AS BIGINT) * 1000000) AS s1
         FROM events
       ), e AS (
         SELECT event_type,
                unnest([s1 - INTERVAL 30 MINUTE, s1]) AS window_start
         FROM t
       )
       SELECT window_start, event_type,
              CAST(count(*) AS BIGINT) AS n_events
       FROM e GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="sliding (hopping) windows -- 1-hour windows every 30 minutes, "
        "the overlap tumbling x27 cannot express: Spark's native "
        "window(ts, dur, slide) assigns each event to dur/slide "
        "windows; the oracle is the relational mirror (each event "
        "unnests to its two epoch-aligned window starts). Streaming-"
        "capable with the same watermark semantics as x27",
)
def x58_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "x59_curation_funnel",
    curate.curation_funnel_oracle_sql(),
    doc="curation funnel: docs surviving each successive gate (input -> "
        "length -> +alpha -> +language -> +exact-dedup) -- the "
        "observability table behind x23's pipeline; gate booleans fold "
        "into ONE aggregate pass (conjunction sums + one conditional "
        "count-distinct), the 5-row funnel is a stack() unpivot",
)
def x59_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curate.curation_funnel(docs).orderBy("stage")


@register(
    "x60_dup_rate_by_source",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT md5(lower(text))) AS BIGINT)
                  AS n_distinct,
              ROUND(1.0 - CAST(count(DISTINCT md5(lower(text)))
                    AS DOUBLE) / count(*), 4) AS dup_rate
       FROM documents GROUP BY source ORDER BY source""",
    doc="duplication-rate triage per source: which feed floods the "
        "corpus with duplicates (and where to point the heavier "
        "near-dup passes); one groupBy with exact count-distinct on "
        "the content hash, two-phase partial agg, no joins",
)
def x60_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_rate_by_group(
        docs, "source", "doc_id", "text"
    ).orderBy("source")


@register(
    "x61_hourly_dup_rate",
    """WITH h AS (
         SELECT date_trunc('hour', ts) AS hour,
                md5(concat(
                  COALESCE(CAST(user_id AS VARCHAR), '<null>'), '|',
                  COALESCE(event_type, '<null>'), '|',
                  COALESCE(props, '<null>'))) AS payload_h
         FROM events
       )
       SELECT hour, CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(DISTINCT payload_h) AS BIGINT) AS n_distinct,
              ROUND(1.0 - CAST(count(DISTINCT payload_h) AS DOUBLE)
                    / count(*), 4) AS dup_rate
       FROM h GROUP BY hour ORDER BY hour""",
    doc="dedup rate over TIME (the crawler-health signal x60 gives per "
        "source): per-hour event payload duplication via one groupBy "
        "with exact count-distinct on the payload hash -- a sudden "
        "dup-rate spike in one window is a stuck feed, invisible in "
        "whole-corpus rates. Payload fields are null-coalesced to a "
        "sentinel on BOTH engines before hashing: Spark's concat is "
        "NULL-on-any-NULL while DuckDB's skips NULLs, so un-guarded "
        "nulls would silently diverge the distinct counts",
)
def x61_hourly_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def _nn(c):
        return F.coalesce(c.cast("string"), F.lit("<null>"))

    payload_h = F.md5(
        F.concat(
            _nn(F.col("user_id")),
            F.lit("|"),
            _nn(F.col("event_type")),
            F.lit("|"),
            _nn(F.col("props")),
        )
    )
    return (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            payload_h.alias("payload_h"),
        )
        .groupBy("hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("payload_h").cast("long").alias("n_distinct"),
        )
        .select(
            "hour",
            "n_events",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_events"), 4
            ).alias("dup_rate"),
        )
        .orderBy("hour")
    )


@register(
    "x62_hourly_value_percentiles",
    """SELECT date_trunc('hour', ts) AS hour,
              CAST(count(*) AS BIGINT) AS n_events,
              ROUND(quantile_cont(value, 0.5), 4) AS p50,
              ROUND(quantile_cont(value, 0.95), 4) AS p95
       FROM events GROUP BY 1 ORDER BY hour""",
    doc="grouped exact percentiles over time (p50/p95 of event value "
        "per hour -- the latency-style SLO readout): one groupBy with "
        "a sort-based percentile agg per group; Spark percentile == "
        "DuckDB quantile_cont (q30/x56 precedent). At 100 TB swap "
        "percentile_approx per group (x17's GK sketch)",
)
def x62_hourly_value_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias(
                "p50"
            ),
            F.round(F.percentile(F.col("value"), F.lit(0.95)), 4).alias(
                "p95"
            ),
        )
        .orderBy("hour")
    )


@register(
    "x63_embedding_norm_audit",
    """WITH n AS (
         SELECT vec_id,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) AS nrm,
                len(embedding) AS dim
       FROM embeddings
       )
       SELECT CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
              CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_zero,
              CAST(SUM(CASE WHEN isnan(nrm) THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_nan,
              ROUND(quantile_cont(nrm, 0.5), 4) AS p50_norm,
              ROUND(MIN(nrm), 4) AS min_norm,
              ROUND(MAX(nrm), 4) AS max_norm
       FROM n""",
    doc="embedding-table DQ audit before any ANN/dedup pass: vector "
        "count, dimension cardinality (a ragged table breaks every "
        "matmul), zero-norm and NaN counts (broken encoder rows crash "
        "cosine), norm range and median; one narrow fold per row (the "
        "dot product via F.aggregate, no Python) + one global aggregate",
)
def x63_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n = emb.select(
        nrm.alias("nrm"), F.size("embedding").alias("dim")
    )
    return n.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.count_distinct("dim").cast("long").alias("n_dims"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).cast("long").alias(
            "n_zero"
        ),
        F.sum(F.when(F.isnan("nrm"), 1).otherwise(0)).cast("long").alias(
            "n_nan"
        ),
        F.round(F.percentile(F.col("nrm"), F.lit(0.5)), 4).alias(
            "p50_norm"
        ),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


@register(
    "x64_dataset_card",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
                  AS n_tokens,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(count(DISTINCT md5(lower(text))) AS BIGINT)
                  AS n_distinct_texts,
              ROUND(1.0 - CAST(count(DISTINCT md5(lower(text)))
                    AS DOUBLE) / count(*), 4) AS dup_rate,
              ROUND(CAST(SUM(len(string_split(lower(text), ' ')))
                    AS DOUBLE) / count(*), 4) AS mean_tokens_per_doc
       FROM documents""",
    doc="dataset-card headline row (datasheet summary): doc/token "
        "counts, language and source cardinality, exact dup rate, mean "
        "doc length -- ONE aggregate pass, two-phase count-distincts, "
        "no joins",
)
def x64_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.dataset_card(docs)


@register(
    "x65_compression_ratio",
    None,  # zlib has no SQL-engine equivalent; rows-only, gated in tests
    doc="per-doc zlib compression ratio (compressed/raw): the classic "
        "repetitive-junk detector token gates miss; Arrow-batched "
        "pandas UDF (zlib in C), narrow, no shuffle; quality-gated in "
        "tests/test_ops_quality.py (repeated text compresses far below "
        "high-entropy text, deterministic across partitionings)",
)
def x65_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.compression_ratio(docs, "doc_id", "text").orderBy(
        "doc_id"
    )


@register(
    "x66_embedding_pooling",
    """WITH raw AS (
         SELECT vec_id % 50 AS grp,
                unnest(range(1, len(embedding) + 1)) AS pos,
                unnest(CAST(embedding AS DOUBLE[])) AS dval
         FROM embeddings
       ), e AS (
         SELECT grp, pos,
                CAST(ROUND(dval, 7) AS DECIMAL(28,7)) AS val
         FROM raw
       ), per AS (
         SELECT grp, pos,
                ROUND(CAST(SUM(val) AS DOUBLE) / count(*), 6)
                    AS mean_val,
                count(*) AS n
         FROM e GROUP BY grp, pos
       )
       SELECT grp AS vec_group, CAST(MAX(n) AS BIGINT) AS n_vecs,
              array_to_string(list_transform(
                  list(mean_val ORDER BY pos),
                  v -> CAST(CAST(v AS DECIMAL(18,6)) AS VARCHAR)
              ), ',') AS pooled
       FROM per GROUP BY grp ORDER BY vec_group""",
    doc="chunk->document mean pooling of embeddings (grouped by "
        "vec_id%50 as the chunk->doc relation): posexplode -> one "
        "(group,pos) hash-groupBy with DECIMAL-accumulated component "
        "sums (partition-order independent) -> sorted regroup to "
        "arrays; component rows stay narrow, full vectors never "
        "transit one unsplittable group. The pooled vector is "
        "string-serialized via DECIMAL(18,6) on both engines (q33 "
        "precedent) so the entry is driver-window safe",
)
def x66_embedding_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 50).alias("vec_group"), "embedding"
    )
    pooled = similarity.mean_pool_embeddings(emb, "vec_group")
    return pooled.select(
        "vec_group",
        "n_vecs",
        F.array_join(
            F.transform(
                F.col("pooled"),
                lambda v: v.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("pooled"),
    ).orderBy("vec_group")


@register(
    "x67_inverted_index",
    """WITH tok AS (
         SELECT DISTINCT doc_id,
                unnest(string_split(lower(text), ' ')) AS term
         FROM documents
       ), idx AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df,
                list_sort(list(doc_id)) AS postings
         FROM tok GROUP BY term
       )
       SELECT term, df,
              array_to_string(postings[1:100], ',') AS first_postings
       FROM idx ORDER BY df DESC, term LIMIT 200""",
    doc="inverted-index build (search/contamination-lookup side "
        "structure): per-term document frequency + sorted posting "
        "lists, capped at the first 100 ids per term and top-200 terms "
        "(stop-term postings are unbounded at corpus scale -- cap or "
        "shard them); per-doc DISTINCT terms first so df == document "
        "frequency; one explode + one groupBy(term). Postings are "
        "string-serialized on both engines (q33 precedent) so the "
        "entry is driver-window safe",
)
def x67_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_toks("text"))).alias("term"),
    )
    idx = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_sort(F.collect_list("doc_id")).alias("postings"),
    )
    return (
        idx.select(
            "term",
            "df",
            F.array_join(
                F.transform(
                    F.slice(F.col("postings"), 1, 100),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("first_postings"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(200)
    )


@register(
    "x68_dupgraph_degree",
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
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       ), pairs AS (
         SELECT id_a, id_b FROM p
         WHERE ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4)
               >= 0.5
       ), deg AS (
         SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
           SELECT id_a AS node FROM pairs
           UNION ALL SELECT id_b FROM pairs
         ) GROUP BY node
       )
       SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
       FROM deg GROUP BY degree ORDER BY degree""",
    doc="near-dup graph degree distribution (the hub-document "
        "diagnostic: a high-degree node is a template spamming the "
        "pair stage, the thing hot-shingle caps and containment "
        "passes exist for); x03's blocked pair derivation + two "
        "hash-groupBys over the edge list -- pairs-sized, never "
        "corpus-sized",
)
def x68_dupgraph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


@register(
    "x69_lang_margin",
    """WITH scored AS (
         SELECT doc_id,
                list_sort([
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ('the','a','of','and','to','in','is')))
                       AS BIGINT),
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ('el','la','de','que','y','en','un')))
                       AS BIGINT),
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ('le','les','des','et','une','pour',
                                  'dans'))) AS BIGINT),
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ('der','die','das','und','ist','von',
                                  'nicht'))) AS BIGINT)
                ]) AS s
         FROM documents
       )
       SELECT doc_id, s[-1] AS top_score,
              (s[-1] - s[-2]) AS margin,
              (s[-1] - s[-2]) >= 2 AS confident
       FROM scored ORDER BY doc_id""",
    doc="language-ID confidence margin (top stopword vote minus "
        "runner-up): the routing gate that sends low-margin docs to a "
        "heavier language model instead of trusting the cheap vote; "
        "pure expression pipeline over x12's scores, scan-speed",
)
def x69_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for words in text.LANG_STOPWORDS.values()
    ]
    s = F.array_sort(F.array(*scores))
    top = F.element_at(s, -1)
    margin = top - F.element_at(s, -2)
    return docs.select(
        "doc_id",
        top.alias("top_score"),
        margin.alias("margin"),
        (margin >= 2).alias("confident"),
    ).orderBy("doc_id")


@register(
    "x70_cross_source_dups",
    """WITH t AS (
         SELECT doc_id, source,
                list_distinct(list_transform(
                  range(1, len(string_split(lower(text), ' ')) - 1),
                  i -> array_to_string(
                         (string_split(lower(text), ' '))[i:i+2], ' ')
                )) AS sh
         FROM documents
         WHERE len(string_split(lower(text), ' ')) >= 3
       ), e AS (
         SELECT doc_id, source, len(sh) AS n_sh, unnest(sh) AS shingle
         FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.source AS src_a, b.source AS src_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4, 5, 6
       )
       SELECT id_a, id_b, src_a, src_b,
              ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4)
                  AS jaccard
       FROM p
       WHERE src_a != src_b
         AND ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) >= 0.5
       ORDER BY id_a, id_b""",
    doc="CROSS-SOURCE near-duplicates (syndication/mirror detection -- "
        "the same article arriving via two feeds, which per-source "
        "dedup never sees): x03's blocked pair derivation carrying the "
        "source label, filtered to src_a != src_b; same shingle-block "
        "scale shape",
)
def x70_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("src_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("src_b"),
            ),
            "id_b",
        )
        .filter(F.col("src_a") != F.col("src_b"))
        .select("id_a", "id_b", "src_a", "src_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "x71_recency_weights",
    """WITH mx AS (
         SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events
       ), w AS (
         SELECT event_type,
                CAST(2 AS BIGINT) ** (30 - LEAST(
                  (max_d - CAST(ts AS DATE)) // 7, 30)) AS w_scaled
         FROM events, mx
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(SUM(w_scaled) AS BIGINT) AS w_sum_scaled,
              ROUND(CAST(SUM(w_scaled) AS DOUBLE) /
                    (SELECT CAST(SUM(w_scaled) AS DOUBLE) FROM w), 4)
                  AS weight_share
       FROM w GROUP BY event_type ORDER BY event_type""",
    doc="recency-decayed sampling weights (freshness-weighted mixture): "
        "per-event weight halves every 7 days, computed as EXACT scaled "
        "integers 2^(30-age_weeks) so sums are integer-exact and "
        "engine-identical (pow/exp on doubles is not correctly rounded "
        "cross-engine -- same trick as x46's sqrt scaling); one "
        "groupBy, totals via broadcast aggregate",
)
def x71_recency_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("max_d"))
    # pyspark's F.shiftleft only takes a literal bit count; the SQL
    # function accepts a column
    w = (
        ev.crossJoin(F.broadcast(mx))
        .withColumn(
            "age_weeks",
            F.floor(
                F.datediff(F.col("max_d"), F.col("ts").cast("date")) / 7
            ),
        )
        .select(
            "event_type",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                "CAST(30 - LEAST(age_weeks, 30) AS INT))"
            ).alias("w_scaled"),
        )
    )
    tot = w.agg(F.sum("w_scaled").cast("double").alias("__t"))
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("w_scaled").cast("long").alias("w_sum_scaled"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_events",
            "w_sum_scaled",
            F.round(F.col("w_sum_scaled") / F.col("__t"), 4).alias(
                "weight_share"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "x72_session_funnel",
    """WITH ordered AS (
         SELECT user_id, event_id, event_type, ts,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events
       ), flagged AS (
         SELECT user_id, event_id, event_type, ts,
                CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
         FROM ordered
       ), sessions AS (
         SELECT user_id, event_type,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                    AS session_id
         FROM flagged
       ), per AS (
         SELECT user_id, session_id,
                MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS has_view,
                MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS has_click,
                MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS has_purchase
         FROM sessions GROUP BY user_id, session_id
       )
       SELECT CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(SUM(has_view) AS BIGINT) AS with_view,
              CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS view_click,
              CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1
                            AND has_purchase = 1
                       THEN 1 ELSE 0 END) AS BIGINT)
                  AS view_click_purchase
       FROM per""",
    doc="session conversion funnel (view -> click -> purchase "
        "CONTAINMENT within x21's gap-based sessions): per-session "
        "boolean rollup (MAX of CASE) then one funnel aggregate -- the "
        "product-analytics shape; one user_id shuffle shared by the "
        "session window and the rollup",
)
def x72_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    flagged = events.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(run)
    )
    has = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per = sessions.groupBy("user_id", "session_id").agg(
        has("view").alias("has_view"),
        has("click").alias("has_click"),
        has("purchase").alias("has_purchase"),
    )
    both = (F.col("has_view") == 1) & (F.col("has_click") == 1)
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("has_view").cast("long").alias("with_view"),
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias(
            "view_click"
        ),
        F.sum(
            F.when(both & (F.col("has_purchase") == 1), 1).otherwise(0)
        ).cast("long").alias("view_click_purchase"),
    )


@register(
    "x73_retention_cohorts",
    """WITH first_seen AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
         FROM events GROUP BY user_id
       ), j AS (
         SELECT e.user_id,
                f.first_d,
                (CAST(e.ts AS DATE) - f.first_d) // 7 AS weeks_since
         FROM events e JOIN first_seen f USING (user_id)
       )
       SELECT first_d AS cohort_start, weeks_since,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
       FROM j
       GROUP BY first_d, weeks_since
       ORDER BY cohort_start, weeks_since
       LIMIT 500""",
    doc="retention cohorts (the product-analytics activity matrix): "
        "each user's cohort is their first active day; activity buckets "
        "by whole weeks since; count-distinct users per (cohort, week). "
        "One groupBy(user) for first-seen + one user equi-join + one "
        "grouped count-distinct -- all partial-aggregating shuffles on "
        "user/cohort keys",
)
def x73_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d")
    )
    j = ev.join(first_seen, "user_id").select(
        "user_id",
        F.col("first_d").alias("cohort_start"),
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("first_d")) / 7
        ).alias("weeks_since"),
    )
    return (
        j.groupBy("cohort_start", "weeks_since")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_start", "weeks_since")
        .limit(500)
    )


@register(
    "x74_rolling_active_users",
    """WITH ud AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
       ), win AS (
         SELECT user_id, unnest(range(0, 7)) AS k, d FROM ud
       ), cover AS (
         SELECT user_id, d + CAST(k AS INTEGER) AS day FROM win
       ), bounds AS (
         SELECT MIN(CAST(ts AS DATE)) AS min_d, MAX(CAST(ts AS DATE))
                    AS max_d
         FROM events
       )
       SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
       FROM cover, bounds
       WHERE day BETWEEN min_d AND max_d
       GROUP BY day ORDER BY day LIMIT 400""",
    doc="trailing-7-day active users per day (the WAU half of DAU/WAU "
        "stickiness): each distinct (user, day) explodes to the 7 days "
        "it keeps the user active (factor 7, linear), then one grouped "
        "count-distinct -- the standard exact formulation; at 100 TB "
        "swap the count-distinct for merged HLL sketches (x16) per day",
)
def x74_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("k")).alias("day"))
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("min_d"),
        F.max(F.col("ts").cast("date")).alias("max_d"),
    )
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("min_d"), F.col("max_d")))
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
        .orderBy("day")
        .limit(400)
    )


@register(
    "x75_lsh_verified_pairs",
    dedup.lsh_verified_pairs_oracle_sql(0.5),
    doc="the complete LSH-then-verify pipeline in one entry: x40's "
        "deterministic banded candidates rescored with EXACT per-pair "
        "Jaccard via shingle-array intersection (two id equi-joins, no "
        "posting explode) -- banding false positives die at the verify "
        "step, false negatives bounded by the S-curve",
)
def x75_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(
        docs, "doc_id", "text", threshold=0.5
    ).orderBy("id_a", "id_b")


@register(
    "x76_copurchase_pairs",
    """WITH items AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       ), p AS (
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS n_orders
         FROM items a JOIN items b USING (l_orderkey)
         WHERE a.l_partkey < b.l_partkey
         GROUP BY 1, 2
       )
       SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders
       FROM p
       ORDER BY n_orders DESC, part_a, part_b
       LIMIT 50""",
    doc="market-basket co-occurrence (parts co-ordered in the same "
        "order): pairs expand INSIDE each order's item list with the "
        "same sorted-array HOF as the shingle buckets (one groupBy on "
        "the order key, ~4 items/order so in-bucket expansion is tiny), "
        "then a pair-count groupBy + TakeOrdered top-50 -- never a "
        "corpus-level self-join",
)
def x76_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    buckets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    ps = F.col("parts")
    pairs = buckets.select(
        F.explode(
            pairs_within(
                ps,
                lambda x, y: F.struct(x.alias("part_a"), y.alias("part_b")),
            )
        ).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "x77_hourly_anomalies",
    """WITH c AS (
         SELECT date_trunc('hour', ts) AS hour,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
       ), m AS (
         SELECT CAST(SUM(n) AS BIGINT) AS s1,
                CAST(SUM(n * n) AS BIGINT) AS s2,
                CAST(count(*) AS BIGINT) AS cnt
         FROM c
       )
       SELECT hour, n,
              ROUND((n - CAST(s1 AS DOUBLE) / cnt) /
                    sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / cnt)
                         / (cnt - 1)), 4) AS z,
              ABS((n - CAST(s1 AS DOUBLE) / cnt) /
                  sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / cnt)
                       / (cnt - 1))) > 3 AS anomaly
       FROM c, m ORDER BY hour""",
    doc="hourly volume anomaly flags (crawler/feed spike detection): "
        "z-score of per-hour event counts against the series' own "
        "moments; mean/variance from EXACT integer sums (SUM(n), "
        "SUM(n*n) as BIGINT) so only division/sqrt touch doubles -- "
        "both correctly rounded, engine-identical; per-hour counts are "
        "one grouped agg, moments a broadcast 1-row aggregate",
)
def x77_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = c.agg(
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    mean = F.col("s1").cast("double") / F.col("cnt")
    var = (
        F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("cnt")
    ) / (F.col("cnt") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        c.crossJoin(F.broadcast(m))
        .select(
            "hour",
            "n",
            F.round(z, 4).alias("z"),
            (F.abs(z) > 3).alias("anomaly"),
        )
        .orderBy("hour")
    )


@register(
    "x78_revenue_share_in_region",
    """WITH rev AS (
         SELECT r.r_name AS region, n.n_name AS nation,
                CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,8)))
                     AS DECIMAL(38,8)) AS rev
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY 1, 2
       )
       SELECT region, nation,
              ROUND(CAST(rev AS DOUBLE), 4) AS revenue,
              ROUND(CAST(rev AS DOUBLE) /
                    CAST(SUM(rev) OVER (PARTITION BY region)
                         AS DOUBLE), 4) AS share_in_region
       FROM rev ORDER BY region, nation""",
    doc="percent-of-total within group (the ratio_to_report shape): "
        "nation revenue share within its region -- aggregate first, "
        "then a window over the ALREADY-AGGREGATED rows (nation-"
        "cardinality, not order-cardinality); DECIMAL-accumulated "
        "revenue, window SUM over exact decimals",
)
def x78_revenue_share_in_region(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
            .cast("decimal(38,8)")
            .alias("rev")
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.round(F.col("rev").cast("double"), 4).alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(w).cast("double"),
            4,
        ).alias("share_in_region"),
    ).orderBy("region", "nation")


@register(
    "x79_first_digit_audit",
    """WITH d AS (
         SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                       AS VARCHAR), 1, 1) AS first_digit
         FROM orders WHERE o_totalprice >= 1
       )
       SELECT first_digit, CAST(count(*) AS BIGINT) AS n,
              ROUND(CAST(count(*) AS DOUBLE) /
                    (SELECT count(*) FROM d), 4) AS share
       FROM d GROUP BY first_digit ORDER BY first_digit""",
    doc="first-significant-digit distribution of order totals (the "
        "Benford-style forensic audit for generated/fabricated "
        "numerics): FLOOR before the BIGINT cast because Spark "
        "truncates and DuckDB rounds on double->int casts; one grouped "
        "count + broadcast total",
)
def x79_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    fd = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"),
            1,
            1,
        ).alias("first_digit")
    )
    tot = fd.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    return (
        fd.groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            F.round(F.col("n") / F.col("__t"), 4).alias("share"),
        )
        .orderBy("first_digit")
    )


@register(
    "x80_top_event_per_user",
    """WITH c AS (
         SELECT user_id, event_type, count(*) AS cnt
         FROM events GROUP BY 1, 2
       ), r AS (
         SELECT user_id, event_type, cnt,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY cnt DESC, event_type) AS rn
         FROM c
       )
       SELECT user_id, event_type AS top_event,
              CAST(cnt AS BIGINT) AS cnt
       FROM r WHERE rn = 1 ORDER BY user_id""",
    doc="grouped argmax / per-key mode (each user's most frequent event "
        "type): aggregate first, then a row_number window over the "
        "ALREADY-AGGREGATED (user, type) rows with a total tiebreak -- "
        "deterministic where a bare mode()/max_by() is tie-ambiguous "
        "across engines; the window partition is user-cardinality",
)
def x80_top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), "event_type"
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_event"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .orderBy("user_id")
    )


@register(
    "x81_weekly_growth",
    """WITH w AS (
         SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
       )
       SELECT week, n,
              lag(n) OVER (ORDER BY week) AS prev_n,
              ROUND(CAST(n AS DOUBLE) / lag(n) OVER (ORDER BY week) - 1,
                    4) AS wow_growth
       FROM w ORDER BY week""",
    doc="week-over-week growth (lag over the AGGREGATED weekly series): "
        "the trend readout; the global window runs over week-"
        "cardinality rows (driver-scale after aggregation), never the "
        "raw events; first week's growth is NULL by construction",
)
def x81_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("week")
    prev = F.lag("n").over(w)
    return wk.select(
        "week",
        "n",
        prev.alias("prev_n"),
        F.round(F.col("n").cast("double") / prev - 1, 4).alias(
            "wow_growth"
        ),
    ).orderBy("week")


@register(
    "x82_lead_time_histogram",
    """WITH lt AS (
         SELECT (CAST(l.l_shipdate AS DATE) -
                 CAST(o.o_orderdate AS DATE)) AS lead_days
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       )
       SELECT CAST(FLOOR(lead_days / 7) AS BIGINT) AS week_bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(MIN(lead_days) AS BIGINT) AS min_days,
              CAST(MAX(lead_days) AS BIGINT) AS max_days
       FROM lt GROUP BY 1 ORDER BY week_bucket""",
    doc="order->ship lead-time distribution in week buckets (the "
        "fulfillment-latency readout): one fact-dim equi-join on the "
        "order key + integer date arithmetic + one hash aggregate; "
        "DuckDB DATE subtraction yields integer days, Spark uses "
        "datediff -- same integers",
)
def x82_lead_time_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lt = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lead_days")
    )
    return (
        lt.groupBy(
            F.floor(F.col("lead_days") / 7).cast("long").alias(
                "week_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("lead_days").cast("long").alias("min_days"),
            F.max("lead_days").cast("long").alias("max_days"),
        )
        .orderBy("week_bucket")
    )


@register(
    "x83_dimension_coverage",
    """WITH e1 AS (
         SELECT 'part<-lineitem' AS edge,
                CAST(count(*) AS BIGINT) AS n_parent,
                CAST(SUM(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unreferenced
         FROM part p LEFT JOIN (SELECT DISTINCT l_partkey FROM lineitem) l
           ON p.p_partkey = l.l_partkey
       ), e2 AS (
         SELECT 'supplier<-lineitem' AS edge,
                CAST(count(*) AS BIGINT) AS n_parent,
                CAST(SUM(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unreferenced
         FROM supplier s
         LEFT JOIN (SELECT DISTINCT l_suppkey FROM lineitem) l
           ON s.s_suppkey = l.l_suppkey
       ), e3 AS (
         SELECT 'customer<-orders' AS edge,
                CAST(count(*) AS BIGINT) AS n_parent,
                CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unreferenced
         FROM customer c
         LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
           ON c.c_custkey = o.o_custkey
       ), u AS (
         SELECT * FROM e1 UNION ALL SELECT * FROM e2
         UNION ALL SELECT * FROM e3
       )
       SELECT edge, n_parent, n_unreferenced,
              ROUND(CAST(n_unreferenced AS DOUBLE) / n_parent, 4)
                  AS unreferenced_rate
       FROM u ORDER BY edge""",
    doc="dimension coverage -- the REVERSE of x55's orphan audit: "
        "parents no fact row references (unsold parts, unused "
        "suppliers, customers with no orders); each edge is one LEFT "
        "join against the distinct child keys (child side pre-distinct "
        "so the join is key-sized)",
)
def x83_dimension_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")

    def edge(name, parent, pk, child_keys, ck):
        j = parent.select(F.col(pk).alias("__p")).join(
            child_keys.select(F.col(ck).alias("__p"), F.lit(1).alias("__hit")),
            "__p",
            "left",
        )
        return j.agg(
            F.lit(name).alias("edge"),
            F.count(F.lit(1)).cast("long").alias("n_parent"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unreferenced"),
        )

    parts = edge(
        "part<-lineitem", part, "p_partkey",
        li.select("l_partkey").distinct(), "l_partkey",
    )
    sups = edge(
        "supplier<-lineitem", supplier, "s_suppkey",
        li.select("l_suppkey").distinct(), "l_suppkey",
    )
    custs = edge(
        "customer<-orders", customer, "c_custkey",
        orders.select("o_custkey").distinct(), "o_custkey",
    )
    u = parts.unionByName(sups).unionByName(custs)
    return u.select(
        "edge",
        "n_parent",
        "n_unreferenced",
        F.round(
            F.col("n_unreferenced") / F.col("n_parent"), 4
        ).alias("unreferenced_rate"),
    ).orderBy("edge")


@register(
    "x84_ltv_deciles",
    profile.decile_report_oracle_sql(
        "(SELECT o_custkey, ROUND(CAST(SUM(CAST(o_totalprice AS "
        "DECIMAL(30,8))) AS DOUBLE), 4) AS ltv FROM orders "
        "GROUP BY o_custkey) AS t",
        "ltv",
    ),
    doc="customer-lifetime-value deciles: x56's decile operator REUSED "
        "on a derived aggregate (per-customer DECIMAL-summed spend) -- "
        "operators compose over any DataFrame, not just base tables; "
        "the aggregate runs once, thresholds broadcast",
)
def x84_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast(
                "double"
            ),
            4,
        ).alias("ltv")
    )
    return profile.decile_report(ltv, "ltv").orderBy("bucket")


@register(
    "x85_grouped_iqr_udaf",
    """SELECT event_type,
              ROUND(quantile_cont(value, 0.75)
                    - quantile_cont(value, 0.25), 4) AS iqr
       FROM events GROUP BY event_type ORDER BY event_type""",
    doc="grouped-aggregate pandas UDAF (Series -> scalar in "
        "groupBy().agg()): per-type interquartile range of event "
        "value; numpy's linear-interpolation percentile is the same "
        "formula as quantile_cont so the UDAF is oracle-hash-exact; "
        "rounding outside the UDAF (python round is banker's). "
        "Completes the custom-function surface: scalar pandas UDF, "
        "mapInPandas, applyInPandas, applyInPandasWithState, UDAF",
)
def x85_grouped_iqr_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iqr = profile.iqr_udaf()
    return (
        ev.groupBy("event_type")
        .agg(F.round(iqr("value"), 4).alias("iqr"))
        .orderBy("event_type")
    )


@register(
    "x86_vocab_growth",
    """WITH first_seen AS (
         SELECT term, MIN(doc_id) AS first_doc FROM (
           SELECT doc_id,
                  unnest(list_distinct(string_split(lower(text), ' ')))
                      AS term
           FROM documents
         ) GROUP BY term
       ), per_doc AS (
         SELECT d.doc_id,
                len(list_distinct(string_split(lower(d.text), ' ')))
                    AS n_terms,
                COALESCE(f.n_new, 0) AS n_new
         FROM documents d LEFT JOIN (
           SELECT first_doc AS doc_id, count(*) AS n_new
           FROM first_seen GROUP BY 1
         ) f USING (doc_id)
       )
       SELECT doc_id,
              CAST(SUM(n_new) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
       FROM per_doc ORDER BY doc_id""",
    doc="vocabulary growth curve (Heaps' law; tokenizer-budget "
        "planning): each term attributes to the doc where it FIRST "
        "appears (one term groupBy + min), per-doc new-term counts "
        "running-sum into the curve. The running sum is scale.prefix_sum "
        "-- the two-pass partition prefix-sum (range partition -> "
        "per-partition totals broadcast as exclusive offsets -> "
        "shuffle-free local cumsum), NEVER a global single-partition "
        "window (plan-gated in tests/test_plans.py)",
)
def x86_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_toks("text"))).alias("term"),
    )
    first_seen = terms.groupBy("term").agg(
        F.min("doc_id").alias("first_doc")
    )
    n_new = first_seen.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    per_doc = docs.select("doc_id").join(n_new, "doc_id", "left").select(
        "doc_id", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    return (
        scale.prefix_sum(per_doc, "doc_id", "n_new", "vocab_size")
        .select("doc_id", F.col("vocab_size").cast("long"))
        .orderBy("doc_id")
    )


@register(
    "x87_frequency_spectrum",
    """WITH c AS (
         SELECT term, count(*) AS freq FROM (
           SELECT unnest(string_split(lower(text), ' ')) AS term
           FROM documents
         ) GROUP BY term
       )
       SELECT freq, CAST(count(*) AS BIGINT) AS n_terms
       FROM c GROUP BY freq ORDER BY freq""",
    doc="term frequency-of-frequencies spectrum (the Good-Turing "
        "smoothing input / Zipf diagnostic: how many terms occur "
        "exactly k times -- the N_1/N ratio estimates unseen-mass): "
        "two chained hash-groupBys, both partial-aggregating; the "
        "second groups freq values so its cardinality is tiny",
)
def x87_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(_toks("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        c.groupBy("freq")
        .agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
        .orderBy("freq")
    )


@register(
    "x88_bigram_entropy",
    """WITH bg AS (
         SELECT unnest(list_transform(
                  range(1, len(toks)),
                  i -> array_to_string(toks[i:i+1], ' ')
                )) AS bg
         FROM (
           SELECT string_split(lower(text), ' ') AS toks
           FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 2
         )
       ), big AS (
         SELECT bg, count(*) AS c12,
                string_split(bg, ' ')[1] AS w1
         FROM bg GROUP BY bg
       ), ctx AS (
         SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1
       ), terms AS (
         SELECT CAST(c12 AS DECIMAL(18,0)) *
                CAST(ROUND(log2(CAST(c12 AS DOUBLE) / c1), 6)
                     AS DECIMAL(18,6)) AS contrib,
                c12
         FROM big JOIN ctx USING (w1)
       )
       SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams,
              ROUND(-CAST(SUM(contrib) AS DOUBLE) /
                    CAST(SUM(c12) AS BIGINT), 4) AS entropy_bits
       FROM terms""",
    doc="corpus bigram conditional entropy in bits/token (the "
        "predictability summary behind perplexity: 2^H is the corpus "
        "perplexity under its own bigram model; repetitive/templated "
        "corpora score low): x52's model CTEs rolled into ONE corpus "
        "row with the round-log-then-DECIMAL accumulation",
)
def x88_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        _toks("text").alias("__toks")
    ).filter(F.size("__toks") >= 2)
    toks = F.col("__toks")
    bg = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ).alias("bg")
    )
    big = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    big = big.withColumn("w1", F.split(F.col("bg"), " ")[0])
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    contrib = (
        F.col("c12").cast("decimal(18,0)")
        * F.round(F.log2(F.col("c12") / F.col("c1")), 6).cast(
            "decimal(18,6)"
        )
    ).alias("contrib")
    terms = big.join(ctx, "w1").select(contrib, "c12")
    return terms.agg(
        F.sum("c12").cast("long").alias("n_bigrams"),
        F.round(
            -F.sum("contrib").cast("double")
            / F.sum("c12").cast("long"),
            4,
        ).alias("entropy_bits"),
    )


@register(
    "x89_normalize_text",
    text.normalize_text_sql(
        """(SELECT doc_id,
              CASE WHEN doc_id % 5 = 0
                   THEN '  ' || replace(text, ' ', '   ') || chr(9)
                   ELSE text END AS text
            FROM documents) AS src"""
    ),
    doc="whitespace/control-char normalization -- the cleanup that MUST "
        "precede content-hash dedup (tab/double-space variants of "
        "identical visible text otherwise survive x01 as distinct): "
        "chained regexp_replace, codegen; dirt injected "
        "deterministically (doc_id%5: leading spaces, tripled "
        "separators, trailing tab) since the fixture is clean",
)
def x89_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("  "),
                F.regexp_replace(F.col("text"), " ", "   "),
                F.lit("\t"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.normalize_text(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x90_global_rank",
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_chars,
              CAST(row_number() OVER (
                ORDER BY strlen(text) DESC, doc_id) AS BIGINT) AS rank
       FROM documents ORDER BY rank""",
    doc="global document ranking (longest-first with unique tiebreak) "
        "WITHOUT a global sort: scale.global_row_number -- per-range-"
        "partition row counts fold into broadcast offsets and each task "
        "numbers its own rows (prefix_sum of 1) -- where the naive "
        "ROW_NUMBER() OVER (ORDER BY ...) plans an Exchange "
        "SinglePartition and funnels the corpus through one task; "
        "plan-gated alongside x86",
)
def x90_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return (
        scale.global_row_number(
            docs,
            [F.col("n_chars").desc(), F.col("doc_id")],
            out_col="rank",
        )
        .select("doc_id", "n_chars", F.col("rank").cast("long"))
        .orderBy("rank")
    )


@register(
    "x91_per_source_cap",
    sampling.per_group_cap_sql(
        "(SELECT doc_id, source FROM documents) AS t",
        "doc_id",
        "source",
        5,
    )
    + " ORDER BY source, cap_rank, doc_id",
    doc="anti-domination cap: at most 5 docs per source, chosen in "
        "md5(doc_id:salt) order (deterministic unbiased within-group "
        "sample -- the guard that stops one crawl host flooding the "
        "mixture); one group-key shuffle, per-source row_number windows "
        "run in parallel, no global sort (sampling.per_group_cap)",
)
def x91_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return sampling.per_group_cap(docs, "doc_id", "source", 5).orderBy(
        "source", "cap_rank", "doc_id"
    )


@register(
    "x92_source_calibrated_rank",
    """SELECT doc_id, source,
              ROUND(percent_rank() OVER (
                PARTITION BY source
                ORDER BY strlen(text), doc_id), 4) AS pr
       FROM documents ORDER BY doc_id""",
    doc="per-source score calibration: percent_rank of a quality proxy "
        "(doc length) WITHIN each source -- 'drop the bottom decile per "
        "domain' needs per-domain ranks because raw score distributions "
        "differ wildly across sources; unique doc_id tiebreak makes the "
        "rank (and hash) deterministic; one source-key shuffle, windows "
        "parallel per source, never a global sort",
)
def x92_source_calibrated_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.length("text"), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.round(F.percent_rank().over(w), 4).alias("pr"),
        )
        .orderBy("doc_id")
    )


@register(
    "x93_stream_enrichment",
    """SELECT date_trunc('hour', e.ts) AS window_start,
              COALESCE(c.c_mktsegment, 'unknown') AS segment,
              CAST(count(*) AS BIGINT) AS n_events,
              ROUND(CAST(SUM(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE), 4)
                  AS sum_value
       FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="STREAM-STATIC enrichment join run to completion: events file-"
        "stream LEFT-joins a broadcast customer dim (no join state -- "
        "each micro-batch probes the broadcast table) then tumbles into "
        "per-(hour, market-segment) counts; hash-matched against the "
        "plain batch SQL join, so stream == batch is the verified "
        "contract (the x27 drain recipe: complete mode + availableNow)",
)
def x93_stream_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...streaming.windows import drain_to_memory, enriched_segment_counts

    customer = load_table(spark, sf_dir, "customer")
    with tempfile.TemporaryDirectory(
        prefix="x93_stream_", ignore_cleanup_errors=True
    ) as tmp:
        counts = drain_to_memory(
            enriched_segment_counts(
                _events_stream(spark, sf_dir, tmp, 1), customer
            ),
            "complete",
            f"{tmp}/ckpt",
        )
    return (
        counts.select(
            F.col("window_start").cast("timestamp_ntz").alias(
                "window_start"
            ),
            "segment",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "segment")
    )


@register(
    "x94_embedding_quantization",
    similarity.quantize_embeddings_int8_oracle_sql(),
    doc="per-vector symmetric int8 quantization (the 4x memory/IO "
        "shrink before storing/shipping an ANN index): floor-based "
        "code formula and floor-scaled integer scale make every step "
        "IEEE-exact cross-engine (no round() -- HALF_UP vs HALF_EVEN "
        "never triggers); narrow HOF pipeline, no shuffle, scan speed; "
        "dequantization error bound gated in tests "
        "(similarity.quantize_embeddings_int8)",
)
def x94_embedding_quantization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings_int8(emb).orderBy("vec_id")


@register(
    "x95_line_dedup",
    text.line_dedup_stats_sql(),
    doc="C4-style line deduplication stats: fixed 8-token lines "
        "occurring in >= 3 DISTINCT docs are boilerplate (the rule "
        "that strips headers/banners doc-level dedup never sees); "
        "per-doc survival counts + md5 of the kept text in order. One "
        "line explode, one distinct-count groupBy, one equi-join back "
        "(frequent lines are broadcast-sized at scale), one per-doc "
        "regroup -- never pairwise (text.line_dedup_stats)",
)
def x95_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.line_dedup_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x96_event_transitions",
    """WITH o AS (
         SELECT user_id, event_type, ts, event_id FROM events
       ), s AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) AS next_type
         FROM o
       ), p AS (
         SELECT event_type, next_type, count(*) AS n
         FROM s WHERE next_type IS NOT NULL
         GROUP BY 1, 2
       ), tot AS (
         SELECT event_type, SUM(n) AS t FROM p GROUP BY 1
       )
       SELECT p.event_type, p.next_type, CAST(p.n AS BIGINT) AS n,
              ROUND(CAST(p.n AS DOUBLE) / tot.t, 4) AS p_next
       FROM p JOIN tot USING (event_type)
       ORDER BY p.event_type, p.next_type""",
    doc="behavioral transition matrix (the event-sequence 'bigram "
        "model': P(next event type | current) per user journey) -- the "
        "session-flow diagnostic behind funnel design; one user-key "
        "shuffle for the lead() window (parallel per user, event_id "
        "tiebreak for same-ts determinism), then two tiny groupBys "
        "over type-pair cardinality",
)
def x96_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    p = s.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = p.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        p.join(tot, "event_type")
        .select(
            "event_type",
            "next_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("t"), 4).alias("p_next"),
        )
        .orderBy("event_type", "next_type")
    )


@register(
    "x97_blocklist_filter",
    text.blocklist_stats_sql(),
    doc="C4-style bad-words document gate, reported per source: docs "
        "containing >= 1 blocked term would be dropped; drop rate + "
        "total hits isolate which feed carries the junk. Inline term "
        "list (a production list rides a broadcast join against the "
        "same token stream); narrow expressions + one small groupBy, "
        "parquet-scan speed (text.blocklist_stats)",
)
def x97_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.blocklist_stats(docs, "source", "text").orderBy("source")


@register(
    "x98_bpe_pair_counts",
    text.bpe_pair_counts_sql(),
    doc="BPE tokenizer training, iteration one: corpus-frequency-"
        "weighted adjacent character-pair counts (the argmax pair "
        "becomes the first merge rule). Token counts collapse the "
        "corpus to vocab cardinality FIRST, pairs expand inside each "
        "distinct word weighted by its count -- the pair table is "
        "alphabet^2-sized, only the first groupBy touches corpus scale "
        "(text.bpe_pair_counts)",
)
def x98_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, "text", top_k=50)


@register(
    "x99_charset_audit",
    text.charset_audit_sql(),
    doc="per-source encoding-health audit: non-ASCII / C0-control / "
        "U+FFFD-replacement character counts and whitespace ratio -- "
        "the mojibake detector that catches a broken decoder feed "
        "before it poisons tokenizer training. regexp_count chain "
        "(codegen, scan-speed) + one small groupBy; fixture is clean "
        "ASCII so synthetic dirt exercises the nonzero paths in tests "
        "(text.charset_audit)",
)
def x99_charset_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.charset_audit(docs, "source", "text").orderBy("source")


@register(
    "x100_zipf_fit",
    text.zipf_fit_sql(),
    doc="Zipf log-log least-squares fit over the top-100 term "
        "frequency curve (natural corpora: slope ~= -1; templated or "
        "synthetic corpora flatten) -- the one-row corpus-health "
        "summary of x47's coverage curve. One partial-aggregating "
        "token groupBy + TakeOrdered(100); window and regression run "
        "over exactly 100 rows; x88's round-log-then-DECIMAL "
        "determinism (text.zipf_fit)",
)
def x100_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.zipf_fit(docs, "text", top_k=100)


@register(
    "x101_label_coherence",
    similarity.label_centroid_coherence_sql(),
    doc="per-label embedding coherence audit: cosine of every vector "
        "to its label's mean centroid (mean + min per label) -- low "
        "mean = incoherent class, low min = outlier rows; the "
        "embedding-space complement of x55's relational DQ. Centroids "
        "via x66's pooling (label cardinality broadcasts), one "
        "broadcast join back, row-local zip_with dot-product fold "
        "(x63), round-6-then-DECIMAL cosine accumulation "
        "(similarity.label_centroid_coherence)",
)
def x101_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroid_coherence(emb).orderBy("label")


@register(
    "x102_source_overlap",
    dedup.source_shingle_overlap_sql(),
    doc="source-level shingle-set Jaccard matrix (mirror/syndication "
        "feed detection BEFORE mixing weights are set -- the corpus "
        "complement of x70's per-doc cross-source pairs): distinct "
        "(source, shingle) postings, shingle equi-join with fanout "
        "bounded by source cardinality (tens), partial-aggregated to "
        "source-pair rows; per-source set sizes broadcast back "
        "(dedup.source_shingle_overlap)",
)
def x102_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.source_shingle_overlap(docs, "source", "text").orderBy(
        "src_a", "src_b"
    )


@register(
    "x103_stream_attribution",
    """SELECT c.event_id AS click_id, v.event_id AS view_id,
              CAST(c.user_id AS BIGINT) AS user_id,
              CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS gap_sec
       FROM events c JOIN events v ON c.user_id = v.user_id
       WHERE c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 24 HOUR
       ORDER BY click_id, view_id""",
    doc="STREAM-STREAM interval join run to completion: one events "
        "file-stream forked into view/click branches (streaming "
        "self-join), each click attributed to same-user views within "
        "a trailing 24 h window; state held on BOTH sides and evicted "
        "past watermark + window (flat memory on a continuous stream "
        "-- without the interval bound the view side buffers forever); "
        "inner joins emit on match so append mode drains completely; "
        "hash-matched against the plain interval-join SQL, stream == "
        "batch is the verified contract "
        "(streaming/windows.py view_click_attribution)",
)
def x103_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...streaming.windows import drain_to_memory, view_click_attribution

    with tempfile.TemporaryDirectory(
        prefix="x103_stream_", ignore_cleanup_errors=True
    ) as tmp:
        # one readStream forked into both join sides: a streaming
        # self-join, append mode because inner joins emit on match
        stream = _events_stream(spark, sf_dir, tmp, 1)
        pairs = drain_to_memory(
            view_click_attribution(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "click"),
            ),
            "append",
            f"{tmp}/ckpt",
        )
    return pairs.orderBy("click_id", "view_id")


@register(
    "x104_pagerank",
    graph.pagerank_copurchase_sql(),
    doc="fixed-depth PageRank (3 power iterations, d=0.85) over the "
        "symmetric co-purchase part graph -- the iterative-algorithm "
        "shape (GraphX/Pregel) as a declarative plan: per iteration ONE "
        "edge-sized equi-join + one partial-aggregating groupBy(dst); "
        "node count rides a broadcast 1-row aggregate, nothing "
        "collects. Determinism: round-12 contributions DECIMAL-summed, "
        "damping update in DOUBLE, rank re-rounded per round so both "
        "engines enter each iteration bit-identical; oracle replays "
        "the loop as chained CTEs (ops/graph.py pagerank)",
)
def x104_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Warm path: if the bench (or a deployment job) has persisted the
    # edge list for THIS fixture dir (graph.persist_copurchase_edges,
    # bucketed+sorted on u), read it instead of re-deriving -- ~60% of
    # x104's cold cost is the one-time graph derivation. The table name
    # is sf-keyed, so a table built at another scale is never used.
    tbl = graph.copurchase_edge_table_name(sf_dir)
    if spark.catalog.tableExists(tbl):
        edges = spark.table(tbl)
    else:
        li = load_table(spark, sf_dir, "lineitem")
        edges = graph.symmetric_copurchase_edges(li)
    pr = graph.pagerank(edges)
    return (
        pr.select(
            F.col("node").cast("long").alias("node"),
            F.round(F.col("rank"), 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


@register(
    "x105_zorder_key",
    f"""WITH z AS (
         SELECT l_orderkey, l_linenumber,
                l_orderkey % 256 AS px, l_partkey % 256 AS sx,
                {zorder_key_sql(['(l_orderkey % 256)', '(l_partkey % 256)'])} AS zkey
         FROM lineitem
       )
       SELECT CAST(zkey AS BIGINT) AS zkey,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(MIN(px) AS BIGINT) AS min_px,
              CAST(MAX(px) AS BIGINT) AS max_px,
              CAST(MIN(sx) AS BIGINT) AS min_sx,
              CAST(MAX(sx) AS BIGINT) AS max_sx
       FROM z GROUP BY zkey ORDER BY zkey LIMIT 100""",
    doc="Morton/Z-order clustering key (the OPTIMIZE ZORDER BY "
        "primitive): bit-interleave of two bucketed dimensions so a "
        "range-sort on the key gives every file a tight min/max "
        "envelope on BOTH columns -- parquet stats then prune scans "
        "filtering on either dimension, where a single-column sort "
        "prunes only its leading column. Pure shift/and/or expression, "
        "codegen; the span-tightening effect is measured against a "
        "lexicographic sort in tests/test_layout.py "
        "(scale.zorder_key)",
)
def x105_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 256).alias("px"),
        (F.col("l_partkey") % 256).alias("sx"),
    )
    z = li.withColumn("zkey", scale.zorder_key(["px", "sx"]))
    return (
        z.groupBy("zkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("px").cast("long").alias("min_px"),
            F.max("px").cast("long").alias("max_px"),
            F.min("sx").cast("long").alias("min_sx"),
            F.max("sx").cast("long").alias("max_sx"),
        )
        .select(F.col("zkey").cast("long").alias("zkey"), "n_rows",
                "min_px", "max_px", "min_sx", "max_sx")
        .orderBy("zkey")
        .limit(100)
    )


@register(
    "x106_bm25_topk",
    text.bm25_topk_sql(),
    doc="Okapi BM25 top-20 for a fixed lexical query (k1=1.2, b=0.75) "
        "-- the retrieval baseline every RAG pipeline starts from and "
        "the hard-negative miner for embedding training. Postings "
        "materialize only for the QUERY's terms (filter before the "
        "(doc,term) groupBy -- never the full vocab); df/idf and "
        "corpus stats ride broadcast aggregates; idf ln rounds to 6, "
        "per-term contributions round to 8 and accumulate in DECIMAL "
        "(text.bm25_topk)",
)
def x106_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, "doc_id", "text")


@register(
    "x107_event_trigrams",
    """WITH s AS (
         SELECT user_id, event_type,
                lead(event_type) OVER w AS t2,
                lead(event_type, 2) OVER w AS t3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       )
       SELECT event_type AS t1, t2, t3, CAST(count(*) AS BIGINT) AS n
       FROM s WHERE t3 IS NOT NULL
       GROUP BY 1, 2, 3
       ORDER BY n DESC, t1, t2, t3 LIMIT 25""",
    doc="top-25 three-step user journeys (the path-mining extension of "
        "x96's transition bigrams: funnel hypotheses come from frequent "
        "trigrams, not single transitions); one user-key shuffle "
        "shared by BOTH lead() windows (parallel per user, event_id "
        "tiebreak), then a type-trigram-cardinality groupBy + "
        "TakeOrdered",
)
def x107_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        s.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(25)
    )


@register(
    "x108_key_skew_gini",
    """WITH f AS (
         SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1
       ), r AS (
         SELECT k, f,
                row_number() OVER (ORDER BY f, k) AS rn
         FROM f
       )
       SELECT CAST(count(*) AS BIGINT) AS n_keys,
              CAST(SUM(f) AS BIGINT) AS n_rows,
              CAST(MAX(f) AS BIGINT) AS max_f,
              ROUND((CAST(2.0 AS DOUBLE) * SUM(rn * f)) /
                    (CAST(count(*) AS BIGINT) * SUM(f)) -
                    (CAST(count(*) + 1 AS DOUBLE) / count(*)), 6)
                  AS gini
       FROM r""",
    doc="Gini coefficient of the join-key frequency distribution -- "
        "the ONE-NUMBER skew diagnostic behind the salt/AQE decision "
        "(x41's top-20 shows the head; Gini summarizes the whole "
        "curve: 0 = uniform keys, ->1 = one hot key). The global rank "
        "the formula needs comes from scale.global_row_number (x90's "
        "two-pass prefix-sum over the aggregated KEY-cardinality "
        "table) -- the oracle's window is the semantic mirror, the "
        "rebuild's plan has no Exchange SinglePartition; rank*freq "
        "products sum as exact BIGINTs, only the final two divisions "
        "touch doubles",
)
def x108_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("f")
    )
    ranked = scale.global_row_number(freq, [F.col("f"), F.col("k")], "rn")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("f").cast("long").alias("n_rows"),
        F.max("f").cast("long").alias("max_f"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("rn") * F.col("f")))
            / (F.count(F.lit(1)).cast("long") * F.sum("f"))
            - (
                (F.count(F.lit(1)) + F.lit(1)).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("gini"),
    )


@register(
    "x109_bpe_learn",
    text.bpe_learn_merges_sql(),
    doc="BPE tokenizer training, iterations 1-3 (x98 run to its "
        "logical conclusion): per round, argmax adjacent-symbol pair "
        "(lexicographic tiebreak) then every word REWRITTEN with the "
        "merge before the next count -- the x104 fixed-depth iterative "
        "shape, on text. Angle-bracket symbol wrapping makes the "
        "rewrite a plain left-to-right replace() that cannot match "
        "inside a symbol and reproduces BPE's greedy leftmost order "
        "identically in both engines. One corpus-scale groupBy up "
        "front; every iteration is vocab-sized; argmax rides a 1-row "
        "broadcast (text.bpe_learn_merges)",
)
def x109_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_learn_merges(docs, "text").orderBy("it")


@register(
    "x110_conversion_latency",
    """WITH v AS (
         SELECT user_id, MIN(ts) AS v_ts FROM events
         WHERE event_type = 'view' GROUP BY 1
       ), p AS (
         SELECT e.user_id,
                CAST(date_diff('second', v.v_ts, MIN(e.ts)) AS BIGINT)
                    AS gap_sec
         FROM events e JOIN v USING (user_id)
         WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
         GROUP BY e.user_id, v.v_ts
       )
       SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewers,
              CAST(count(*) AS BIGINT) AS n_converted,
              ROUND(count(*) /
                    CAST((SELECT count(*) FROM v) AS DOUBLE), 4)
                  AS conversion_rate,
              ROUND(quantile_cont(gap_sec, 0.5), 4) AS p50_gap_sec,
              ROUND(quantile_cont(gap_sec, 0.9), 4) AS p90_gap_sec
       FROM p""",
    doc="view->purchase conversion latency: per user, first view to "
        "first subsequent purchase; conversion rate + exact p50/p90 of "
        "the gap (quantile_cont == Spark percentile bit-for-bit, the "
        "q30 precedent). Two user-key groupBys sharing one shuffle "
        "key + one equi-join -- the product-funnel KPI row; at 100 TB "
        "swap percentile_approx (x17)",
)
def x110_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(
            (
                F.unix_timestamp(F.min("ts").cast("timestamp"))
                - F.unix_timestamp(F.col("v_ts").cast("timestamp"))
            )
            .cast("long")
            .alias("gap_sec")
        )
    )
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    # Aggregate p FIRST (a global agg over an empty input still yields one
    # row, matching the oracle's aggregate-over-FROM-p), THEN attach the
    # 1-row viewer count -- a crossJoin before the agg would return zero
    # rows on the no-purchases input while the oracle's scalar subquery
    # still reports the true viewer count with n_converted = 0.
    pa = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile(F.col("gap_sec"), F.lit(0.5)).alias("_p50"),
        F.percentile(F.col("gap_sec"), F.lit(0.9)).alias("_p90"),
    )
    return pa.crossJoin(F.broadcast(nv)).select(
        F.col("n_viewers"),
        F.col("n_converted"),
        F.round(
            F.col("n_converted") / F.col("n_viewers").cast("double"), 4
        ).alias("conversion_rate"),
        F.round(F.col("_p50"), 4).alias("p50_gap_sec"),
        F.round(F.col("_p90"), 4).alias("p90_gap_sec"),
    )


@register(
    "x111_centroid_confusion",
    """WITH raw AS (
         SELECT label AS lbl,
                unnest(range(1, len(embedding) + 1)) AS pos,
                unnest(CAST(embedding AS DOUBLE[])) AS dval
         FROM embeddings
       ), e AS (
         SELECT lbl, pos, CAST(ROUND(dval, 7) AS DECIMAL(28,7)) AS val
         FROM raw
       ), per AS (
         SELECT lbl, pos,
                ROUND(CAST(SUM(val) AS DOUBLE) / count(*), 6) AS mean_val
         FROM e GROUP BY lbl, pos
       ), cent AS (
         SELECT lbl, list(mean_val ORDER BY pos) AS c
         FROM per GROUP BY lbl
       )
       SELECT a.lbl AS label_a, b.lbl AS label_b,
              ROUND(list_dot_product(a.c, b.c) /
                    NULLIF(sqrt(list_dot_product(a.c, a.c)) *
                           sqrt(list_dot_product(b.c, b.c)), 0), 4)
                  AS cos
       FROM cent a JOIN cent b ON a.lbl < b.lbl
       ORDER BY label_a, label_b""",
    doc="label-centroid confusion matrix: pairwise cosine between the "
        "per-label mean embeddings (x101's centroids) -- which classes "
        "COLLIDE in embedding space, the class-level complement of "
        "x101's within-class coherence. Pooling is x66's recipe; the "
        "pair join runs over label-cardinality rows (tens), trivially "
        "broadcast; cosine is the x63 row-local fold",
)
def x111_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.mean_pool_embeddings(emb, "label").select(
        F.col("label").alias("lbl"), F.col("pooled").alias("c")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a = cent.select(F.col("lbl").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("lbl").alias("label_b"), F.col("c").alias("cb"))
    den = F.sqrt(dot(F.col("ca"), F.col("ca"))) * F.sqrt(
        dot(F.col("cb"), F.col("cb"))
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(
                F.when(den != 0, dot(F.col("ca"), F.col("cb")) / den), 4
            ).alias("cos"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "x112_wau_sketch",
    None,  # approximate (Datasketches HLL) -- rows-only; error gated
           # vs the exact x74 in tests/test_ops_quality.py
    doc="x74's promised 100 TB formulation, delivered: trailing-7-day "
        "actives via MERGEABLE per-day HLL sketches -- one sketch per "
        "(user-day grain) day, each day's sketch exploded to the 7 "
        "cover days it serves, then hll_union_agg + estimate. The "
        "shuffle carries DAY-cardinality sketch rows (constant size "
        "each), not user-day rows; the exact x74 shuffles the full "
        "user-day cross product into a grouped count-distinct. "
        "Relative error <= ~2% at lgConfigK=12, gated in tests",
)
def x112_wau_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_day = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    cover = per_day.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "d", "sk"
    ).select(F.date_add(F.col("d"), F.col("k")).alias("day"), "sk")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("min_d"),
        F.max(F.col("ts").cast("date")).alias("max_d"),
    )
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("min_d"), F.col("max_d")))
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("wau_est")
        )
        .orderBy("day")
        .limit(400)
    )


@register(
    "x113_scd2_intervals",
    """WITH o AS (
         SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) AS prev_state
         FROM events
       ), changes AS (
         SELECT user_id, event_type AS state, ts, event_id
         FROM o
         WHERE prev_state IS NULL OR prev_state <> event_type
       )
       SELECT user_id, state, ts AS valid_from,
              lead(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
              ) AS valid_to
       FROM changes
       ORDER BY user_id, valid_from, state""",
    doc="SCD2 dimension build from an event stream: collapse "
        "consecutive same-state events per user, emit "
        "(state, valid_from, valid_to) validity intervals with the "
        "open current interval as NULL valid_to -- the "
        "slowly-changing-dimension snapshot every warehouse join "
        "needs. Both windows (change detect + interval close) share "
        "ONE user-key shuffle, event_id tiebreak for same-ts "
        "determinism",
)
def x113_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("state"))
        )
    )
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).orderBy("user_id", "valid_from", "state")


@register(
    "x114_jsonl_roundtrip_dedup",
    """SELECT md5(lower(text)) AS h, MIN(doc_id) AS keep_id,
              count(*) AS dup_cnt
       FROM documents GROUP BY md5(lower(text)) ORDER BY h""",
    doc="format-abstraction contract: export the corpus as JSON-Lines "
        "shards (pipeline/layout.py export_jsonl, the tokenizer/"
        "training interchange leg), read the shards back with the "
        "ORIGINAL schema, and run x01's exact dedup on the round-"
        "tripped corpus -- hash-matching x01's parquet-sourced oracle "
        "proves the export leg is byte-lossless THROUGH the "
        "correctness gate, not just a row-count test. Shards write/"
        "read in parallel (text sink, no collect)",
)
def x114_jsonl_roundtrip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...pipeline.layout import export_jsonl

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="x114_jsonl_", ignore_cleanup_errors=True
    ) as tmp:
        export_jsonl(docs, tmp, max_records_per_file=5000)
        back = spark.read.schema(docs.schema).json(tmp)
        out = dedup.exact_dedup(back, "doc_id", "text").orderBy("h")
        # materialize before the temp dir disappears
        out = out.localCheckpoint()
    return out


@register(
    "x115_cluster_survivorship",
    f"""WITH RECURSIVE {_X03_PAIRS_CTE},
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
       comp AS (
         SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node
       ),
       scored AS (
         SELECT c.rep, c.node, len(d.text) AS n_chars,
                row_number() OVER (
                  PARTITION BY c.rep
                  ORDER BY len(d.text) DESC, c.node
                ) AS rnk
         FROM comp c JOIN documents d ON d.doc_id = c.node
       )
       SELECT rep,
              CAST(MAX(CASE WHEN rnk = 1 THEN node END) AS BIGINT)
                  AS kept_id,
              CAST(MAX(CASE WHEN rnk = 1 THEN n_chars END) AS BIGINT)
                  AS kept_chars,
              CAST(count(*) AS BIGINT) AS n_members
       FROM scored GROUP BY rep
       ORDER BY rep""",
    doc="dedup survivorship POLICY: within each near-dup cluster "
        "(x24's components over x03's pairs) keep the highest-quality "
        "member (longest text, id tiebreak) instead of x24's min-id "
        "default -- the canonical-document selection step real "
        "curation runs, and a three-operator composition (blocked "
        "pairs -> components -> per-cluster argmax) in one entry; the "
        "argmax window runs per cluster (parallel), never global",
)
def x115_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    comp = dedup.duplicate_clusters(pairs)
    scored = comp.join(
        docs.select(
            F.col("doc_id").alias("node"),
            F.length("text").cast("long").alias("n_chars"),
        ),
        "node",
    )
    w = Window.partitionBy("rep").orderBy(F.desc("n_chars"), "node")
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("rep")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("node")))
            .cast("long")
            .alias("kept_id"),
            F.max(F.when(F.col("rnk") == 1, F.col("n_chars")))
            .cast("long")
            .alias("kept_chars"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .orderBy("rep")
    )


@register(
    "x116_winsorized_stats",
    """WITH b AS (
         -- round-6 thresholds before the clip comparison (the x119
         -- 1-ulp interpolation hazard)
         SELECT o_orderpriority,
                ROUND(quantile_cont(o_totalprice, 0.05), 6) AS p05,
                ROUND(quantile_cont(o_totalprice, 0.95), 6) AS p95
         FROM orders GROUP BY 1
       ), c AS (
         SELECT o.o_orderpriority,
                CAST(ROUND(
                  CASE WHEN o.o_totalprice < b.p05 THEN b.p05
                       WHEN o.o_totalprice > b.p95 THEN b.p95
                       ELSE o.o_totalprice END, 4)
                  AS DECIMAL(30,4)) AS w
         FROM orders o JOIN b USING (o_orderpriority)
       )
       SELECT o_orderpriority,
              CAST(count(*) AS BIGINT) AS n,
              ROUND(CAST(SUM(w) AS DOUBLE) / count(*), 4)
                  AS winsorized_mean
       FROM c GROUP BY 1 ORDER BY 1""",
    doc="winsorized (outlier-clipped) mean of order totals per "
        "priority: values clipped to the group's exact [p05, p95] "
        "before averaging -- the robust-statistics pass that stops a "
        "fat-tailed feed from dragging calibration metrics (x56's "
        "decile machinery applied as a CLIP, not a bucket). Exact "
        "percentiles via the q30 equivalence; thresholds are a tiny "
        "per-group broadcast; clipped values round-then-DECIMAL "
        "accumulate; at 100 TB swap percentile_approx (x17)",
)
def x116_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy("o_orderpriority").agg(
        F.round(
            F.percentile(F.col("o_totalprice"), F.lit(0.05)), 6
        ).alias("p05"),
        F.round(
            F.percentile(F.col("o_totalprice"), F.lit(0.95)), 6
        ).alias("p95"),
    )
    w = (
        F.when(F.col("o_totalprice") < F.col("p05"), F.col("p05"))
        .when(F.col("o_totalprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("o_totalprice"))
    )
    c = orders.join(F.broadcast(b), "o_orderpriority").select(
        "o_orderpriority",
        F.round(w, 4).cast("decimal(30,4)").alias("w"),
    )
    return (
        c.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum("w").cast("double") / F.count(F.lit(1)), 4
            ).alias("winsorized_mean"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x117_user_entropy",
    """WITH ut AS (
         SELECT user_id, event_type, count(*) AS c
         FROM events GROUP BY 1, 2
       ), tot AS (
         SELECT user_id, SUM(c) AS t, count(*) AS n_types FROM ut
         GROUP BY 1
       ), terms AS (
         SELECT ut.user_id, tot.t, tot.n_types,
                CAST(ut.c AS DECIMAL(18,0)) *
                CAST(ROUND(log2(CAST(ut.c AS DOUBLE) / tot.t), 6)
                     AS DECIMAL(18,6)) AS contrib
         FROM ut JOIN tot USING (user_id)
       )
       SELECT user_id, CAST(MAX(t) AS BIGINT) AS n_events,
              CAST(MAX(n_types) AS BIGINT) AS n_types,
              ROUND(-CAST(SUM(contrib) AS DOUBLE) / MAX(t), 4)
                  AS entropy_bits
       FROM terms GROUP BY user_id
       ORDER BY user_id""",
    doc="per-user behavioral entropy (bits over the event-type "
        "distribution): the engagement-diversity score separating "
        "single-action bots (0 bits) from organic users -- x88's "
        "corpus entropy recipe applied per key; two user-key groupBys "
        "sharing one shuffle, round-log-then-DECIMAL accumulation",
)
def x117_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = ut.groupBy("user_id").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_types")
    )
    contrib = (
        F.col("c").cast("decimal(18,0)")
        * F.round(F.log2(F.col("c") / F.col("t")), 6).cast("decimal(18,6)")
    ).alias("contrib")
    terms = ut.join(tot, "user_id").select(
        "user_id", "t", "n_types", contrib
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.max("t").cast("long").alias("n_events"),
            F.max("n_types").cast("long").alias("n_types"),
            F.round(
                -F.sum("contrib").cast("double") / F.max("t"), 4
            ).alias("entropy_bits"),
        )
        .orderBy("user_id")
    )


@register(
    "x118_salted_distinct",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1 ORDER BY 1""",
    doc="skew-immune exact count-distinct: decomposed as groupBy("
        "type, user) -> groupBy(type), so the first shuffle hashes on "
        "the COMPOSITE key (a hot event type spreads across every "
        "partition) and the second counts already-distinct rows with "
        "map-side combine. The naive count_distinct shuffles raw rows "
        "by type alone -- one reducer per hot type at 100 TB. Same "
        "answer, different physical posture; the x54 salting principle "
        "applied to aggregation",
)
def x118_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.groupBy("event_type", "user_id").agg(F.lit(1).alias("__1"))
    return (
        pairs.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "x119_quality_ensemble",
    """WITH m AS (
         SELECT doc_id,
                CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                    AS n_toks,
                ROUND(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                      / CAST(len(text) AS DOUBLE), 4) AS alpha_ratio,
                ROUND(len(list_filter(string_split(lower(text), ' '),
                          t -> t IN ('the','a','of','and','to','in','is')))
                      / CAST(len(string_split(lower(text), ' '))
                             AS DOUBLE), 4) AS stop_ratio
         FROM documents
       ), th AS (
         -- thresholds ROUND to 6 before any comparison: the two
         -- engines' interpolation formulas (a+(b-a)*g vs (1-g)a+g*b)
         -- can differ by 1 ulp, which flips v >= t exactly where a
         -- round-4 metric value IS the threshold (hit at sf0.1)
         SELECT list_transform(
                  quantile_cont(n_toks,
                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                  t -> ROUND(t, 6)) AS t_tok,
                list_transform(
                  quantile_cont(alpha_ratio,
                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                  t -> ROUND(t, 6)) AS t_alpha,
                list_transform(
                  quantile_cont(stop_ratio,
                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                  t -> ROUND(t, 6)) AS t_stop
         FROM m
       )
       SELECT doc_id,
              CAST(1 + len(list_filter(t_tok, t -> n_toks >= t))
                   AS BIGINT) AS d_tok,
              CAST(1 + len(list_filter(t_alpha, t -> alpha_ratio >= t))
                   AS BIGINT) AS d_alpha,
              CAST(1 + len(list_filter(t_stop, t -> stop_ratio >= t))
                   AS BIGINT) AS d_stop,
              ROUND(((1 + len(list_filter(t_tok, t -> n_toks >= t))) +
                     (1 + len(list_filter(t_alpha, t -> alpha_ratio >= t))) +
                     (1 + len(list_filter(t_stop, t -> stop_ratio >= t)))) /
                    CAST(3 AS DOUBLE), 4) AS ensemble
       FROM m, th ORDER BY doc_id""",
    doc="FineWeb-style quality ENSEMBLE: three per-doc signals (token "
        "count, alpha ratio, stopword ratio) each rank-normalized to "
        "its corpus decile via exact interpolated thresholds (x56's "
        "machinery per metric), averaged into one calibrated score -- "
        "rank normalization is what lets incommensurable signals "
        "blend. Thresholds ride ONE broadcast row (three 9-element "
        "arrays); decile assignment is a row-local array fold; no "
        "global window anywhere; at 100 TB swap percentile_approx",
)
def x119_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    stop = F.size(
        F.filter(toks, lambda t: t.isin(*text.LANG_STOPWORDS["en"]))
    )
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.round(
            F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
            / F.length("text").cast("double"),
            4,
        ).alias("alpha_ratio"),
        F.round(stop / F.size(toks).cast("double"), 4).alias("stop_ratio"),
    )
    qs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    # round-6 thresholds BEFORE comparison (see the oracle comment: the
    # engines' interpolation differs by 1 ulp, flipping >= at sf0.1)
    r6 = lambda c: F.transform(c, lambda t: F.round(t, 6))
    th = m.agg(
        r6(F.percentile(F.col("n_toks"), qs)).alias("t_tok"),
        r6(F.percentile(F.col("alpha_ratio"), qs)).alias("t_alpha"),
        r6(F.percentile(F.col("stop_ratio"), qs)).alias("t_stop"),
    )

    def decile(v, tcol):
        return (
            F.lit(1)
            + F.size(F.filter(tcol, lambda t: F.col(v) >= t))
        ).cast("long")

    d_tok = decile("n_toks", F.col("t_tok"))
    d_alpha = decile("alpha_ratio", F.col("t_alpha"))
    d_stop = decile("stop_ratio", F.col("t_stop"))
    return (
        m.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            d_tok.alias("d_tok"),
            d_alpha.alias("d_alpha"),
            d_stop.alias("d_stop"),
            F.round(
                (d_tok + d_alpha + d_stop) / F.lit(3).cast("double"), 4
            ).alias("ensemble"),
        )
        .orderBy("doc_id")
    )


@register(
    "x120_dedup_datasheet",
    f"""WITH RECURSIVE {_X03_PAIRS_CTE},
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
       comp AS (
         SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node
       ),
       ex AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT md5(lower(text))) AS BIGINT)
                    AS n_unique
         FROM documents
       ),
       nr AS (
         SELECT CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
                CAST(count(*) AS BIGINT) AS n_clustered
         FROM comp
       )
       SELECT n_docs, n_unique,
              CAST(n_docs - n_unique AS BIGINT) AS n_exact_dups,
              ROUND((n_docs - n_unique) / CAST(n_docs AS DOUBLE), 4)
                  AS exact_dup_rate,
              n_clusters, n_clustered,
              CAST(n_clustered - n_clusters AS BIGINT) AS n_near_losses,
              ROUND((n_clustered - n_clusters) /
                    CAST(n_docs AS DOUBLE), 4) AS near_dup_rate
       FROM ex, nr""",
    doc="the dedup DATASHEET row (x64's dataset card, duplication "
        "chapter): corpus size, exact-unique count and dup rate, "
        "near-dup cluster count / clustered docs / docs a transitive "
        "near-dedup would drop -- the headline numbers a datasheet or "
        "data-card publishes. Composes x01 (hash distinct) + x03/x24 "
        "(blocked pairs -> components) into two 1-row aggregates "
        "cross-joined as broadcasts",
)
def x120_dedup_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    comp = dedup.duplicate_clusters(pairs)
    ex = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.md5(F.lower(F.col("text"))))
        .cast("long")
        .alias("n_unique"),
    )
    nr = comp.agg(
        F.count_distinct("rep").cast("long").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_clustered"),
    )
    return ex.crossJoin(F.broadcast(nr)).select(
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique"))
        .cast("long")
        .alias("n_exact_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_unique"))
            / F.col("n_docs").cast("double"),
            4,
        ).alias("exact_dup_rate"),
        "n_clusters",
        "n_clustered",
        (F.col("n_clustered") - F.col("n_clusters"))
        .cast("long")
        .alias("n_near_losses"),
        F.round(
            (F.col("n_clustered") - F.col("n_clusters"))
            / F.col("n_docs").cast("double"),
            4,
        ).alias("near_dup_rate"),
    )


@register(
    "x121_contrastive_pairs",
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
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS anchor, b.doc_id AS other,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       ), j AS (
         SELECT anchor, other,
                ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4)
                    AS jaccard
         FROM p
       ), pos AS (
         SELECT anchor, other, jaccard, 'positive' AS label
         FROM j WHERE jaccard >= 0.5
       ), neg AS (
         SELECT anchor, other, jaccard, 'hard_negative' AS label
         FROM (
           SELECT anchor, other, jaccard,
                  row_number() OVER (
                    PARTITION BY anchor
                    ORDER BY jaccard DESC, other
                  ) AS rnk
           FROM j WHERE jaccard >= 0.01 AND jaccard < 0.3
         ) WHERE rnk <= 2
       )
       SELECT anchor, other, jaccard, label FROM pos
       UNION ALL
       SELECT anchor, other, jaccard, label FROM neg
       ORDER BY anchor, other, label""",
    doc="contrastive training-pair mining for embedding models, riding "
        "the SAME blocked pair stage as x03: positives = near-dup "
        "pairs (jaccard >= 0.5), hard negatives = pairs that SHARE a "
        "shingle block but score 0.01-0.3 (lexically adjacent, "
        "semantically distinct -- the negatives random sampling never "
        "finds), capped at top-2 per anchor by a per-anchor window "
        "(parallel per key). One derivation serves dedup AND training-"
        "data mining; oracle mirrors x03's CTE (hot-shingle cap un-hit "
        "on the fixture, the x40 assumption)",
)
def x121_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    counts = _shared_pair_counts(spark, sf_dir)
    j = counts.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("other"),
        F.round(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            4,
        ).alias("jaccard"),
    )
    pos = j.filter(F.col("jaccard") >= 0.5).withColumn(
        "label", F.lit("positive")
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("jaccard"), "other")
    neg = (
        j.filter((F.col("jaccard") >= 0.01) & (F.col("jaccard") < 0.3))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .drop("rnk")
        .withColumn("label", F.lit("hard_negative"))
    )
    return pos.unionAll(neg).orderBy("anchor", "other", "label")


@register(
    "x122_padding_waste",
    """WITH d AS (
         SELECT len(string_split(lower(text), ' ')) AS n_toks
         FROM documents
       ), b AS (
         SELECT n_toks,
                CAST(FLOOR(n_toks / 32) * 32 AS BIGINT) AS bucket
         FROM d
       )
       SELECT bucket,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
              CAST(count(*) * MAX(n_toks) AS BIGINT) AS padded_tokens,
              ROUND(1.0 - SUM(n_toks) /
                    CAST(count(*) * MAX(n_toks) AS DOUBLE), 4)
                  AS waste_rate
       FROM b GROUP BY bucket ORDER BY bucket""",
    doc="inference/training batching efficiency report: docs bucketed "
        "by length/32, per-bucket real vs padded token counts and the "
        "padding-waste rate if each bucket batches together (pad to "
        "the bucket max) -- the measurement that justifies x32's "
        "packing over naive length-sorted batching; one narrow "
        "projection + one hash aggregate, scan speed",
)
def x122_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_toks("text"))
    b = docs.select(
        n.alias("n_toks"),
        (F.floor(n / 32) * 32).cast("long").alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("real_tokens"),
            (F.count(F.lit(1)) * F.max("n_toks"))
            .cast("long")
            .alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.sum("n_toks")
                / (F.count(F.lit(1)) * F.max("n_toks")).cast("double"),
                4,
            ).alias("waste_rate"),
        )
        .orderBy("bucket")
    )


@register(
    "x123_fuzzy_match",
    """WITH c AS (
         SELECT c_custkey, c_name,
                substr(c_name, 1, len(c_name) - 2) AS blk
         FROM customer
       ), p AS (
         SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                levenshtein(a.c_name, b.c_name) AS dist
         FROM c a JOIN c b USING (blk)
         WHERE a.c_custkey < b.c_custkey
       )
       SELECT CAST(dist AS BIGINT) AS dist,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(MIN(id_a) AS BIGINT) AS example_a,
              CAST(MIN(id_b) AS BIGINT) AS example_b
       FROM p WHERE dist <= 2
       GROUP BY dist ORDER BY dist""",
    doc="blocked fuzzy entity resolution: candidate pairs share a "
        "prefix BLOCK (name minus its last 2 chars -- the standard "
        "blocking-key trade: recall limited to in-block variants, "
        "never an all-pairs O(n^2) edit-distance), then exact "
        "levenshtein verifies within the block; per-distance pair "
        "counts + deterministic examples. levenshtein() is "
        "cross-engine identical on ASCII; the ER shape behind "
        "user/merchant/address matching at 100 TB (block -> verify, "
        "exactly the LSH-then-verify pattern of x75, on strings)",
)
def x123_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # the dim parquet is a single file = one input split; the in-block
    # pair expansion multiplies rows ~100x, so spread the probe side
    # BEFORE the broadcast join or every levenshtein runs in one task
    # (measured 4.1 s -> ~0.6 s at sf0.1). Width follows the session's
    # shuffle-partition conf, not a literal, so it scales with the
    # cluster (the prefix_sum precedent, scale.py).
    n_spread = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    c = cust.repartition(n_spread).select(
        "c_custkey",
        "c_name",
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        "blk",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        "blk",
    )
    p = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )
    return (
        p.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("id_a").cast("long").alias("example_a"),
            F.min("id_b").cast("long").alias("example_b"),
        )
        .select(F.col("dist").cast("long").alias("dist"), "n_pairs",
                "example_a", "example_b")
        .orderBy("dist")
    )


@register(
    "x124_mad_outliers",
    """WITH med AS (
         -- medians ROUND to 6 before any downstream arithmetic or
         -- comparison (the x119 1-ulp interpolation hazard): ad and
         -- the fence both inherit med/mad bit-exactly on both engines
         SELECT o_orderpriority,
                ROUND(quantile_cont(o_totalprice, 0.5), 6) AS med
         FROM orders GROUP BY 1
       ), dev AS (
         SELECT o.o_orderpriority, med.med,
                ABS(o.o_totalprice - med.med) AS ad
         FROM orders o JOIN med USING (o_orderpriority)
       ), mad AS (
         SELECT o_orderpriority, MAX(med) AS med,
                ROUND(quantile_cont(ad, 0.5), 6) AS mad
         FROM dev GROUP BY 1
       )
       SELECT d.o_orderpriority,
              ROUND(mad.med, 4) AS median_price,
              ROUND(mad.mad, 4) AS mad,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) * mad.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev d JOIN mad USING (o_orderpriority)
       GROUP BY 1, 2, 3 ORDER BY 1""",
    doc="robust outlier detection via median absolute deviation: per "
        "priority, median price, MAD, and rows beyond the 3-sigma-"
        "equivalent (3 * 1.4826 * MAD) robust fence -- unlike "
        "mean/stddev fences, one fat-tailed feed cannot drag the "
        "threshold (the robust complement of x77's z-scores). Two "
        "grouped exact medians (q30 equivalence) + broadcast "
        "thresholds; at 100 TB swap percentile_approx",
)
def x124_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.round(
            F.percentile(F.col("o_totalprice"), F.lit(0.5)), 6
        ).alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.max("med").alias("med"),
        F.round(F.percentile(F.col("ad"), F.lit(0.5)), 6).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "o_orderpriority")
        .groupBy(
            "o_orderpriority",
            F.round(F.col("med"), 4).alias("median_price"),
            F.round(F.col("mad"), 4).alias("mad"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (
                    # 3 * 1.4826 pre-folded to ONE literal: computing it
                    # as int*double on one engine and DECIMAL-exact on the
                    # other can differ by 1 ulp at the fence
                    F.col("ad") > F.lit(4.4478) * F.col("mad")
                ).cast("long")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x125_ab_lift",
    """WITH arm AS (
         SELECT user_id,
                CASE WHEN CAST(('0x' || substr(md5(
                         'ab1:' || CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 = 0
                     THEN 'A' ELSE 'B' END AS arm
         FROM (SELECT DISTINCT user_id FROM events)
       ), m AS (
         SELECT a.arm,
                count(DISTINCT e.user_id) AS n_users,
                count(DISTINCT CASE WHEN e.event_type = 'purchase'
                                    THEN e.user_id END) AS n_converted
         FROM events e JOIN arm a USING (user_id)
         GROUP BY a.arm
       )
       SELECT arm, CAST(n_users AS BIGINT) AS n_users,
              CAST(n_converted AS BIGINT) AS n_converted,
              ROUND(n_converted / CAST(n_users AS DOUBLE), 4) AS cvr,
              ROUND(n_converted / CAST(n_users AS DOUBLE) -
                    (SELECT SUM(n_converted) / CAST(SUM(n_users) AS DOUBLE)
                     FROM m), 4) AS lift_vs_pooled
       FROM m ORDER BY arm""",
    doc="deterministic A/B experiment readout: users hash into arms "
        "via the x18 md5-bucket split (pure function of user_id + "
        "experiment salt -- reruns and backfills never reassign), "
        "per-arm conversion rate and lift vs the pooled rate. One "
        "distinct-user pass + one grouped count-distinct; the arm "
        "table is user-cardinality and joins on the user key",
)
def x125_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = users.select(
        "user_id",
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            "A",
        )
        .otherwise("B")
        .alias("arm"),
    )
    m = (
        ev.join(arm, "user_id")
        .groupBy("arm")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("n_converted"),
        )
    )
    pooled = m.agg(
        (
            F.sum("n_converted") / F.sum("n_users").cast("double")
        ).alias("pooled_cvr")
    )
    return (
        m.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_converted").cast("long").alias("n_converted"),
            F.round(
                F.col("n_converted") / F.col("n_users").cast("double"), 4
            ).alias("cvr"),
            F.round(
                F.col("n_converted") / F.col("n_users").cast("double")
                - F.col("pooled_cvr"),
                4,
            ).alias("lift_vs_pooled"),
        )
        .orderBy("arm")
    )


@register(
    "x126_freshness",
    """WITH mx AS (SELECT MAX(ts) AS corpus_max FROM events)
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              MAX(ts) AS last_seen,
              -- floor-of-epoch on each side THEN floor-divide, matching
              -- Spark's unix_timestamp arithmetic; date_diff('minute')
              -- would count boundary CROSSINGS (off by one around :00)
              CAST(FLOOR((FLOOR(date_part('epoch',
                                (SELECT corpus_max FROM mx))) -
                          FLOOR(date_part('epoch', MAX(ts)))) / 60.0)
                   AS BIGINT) AS lag_minutes
       FROM events GROUP BY event_type ORDER BY event_type""",
    doc="feed-freshness SLA report: per event type, last event seen "
        "and its lag behind the corpus max -- the stuck-feed monitor "
        "(a type whose lag grows is a dead producer). Lag is measured "
        "against the corpus max, NOT wall clock, so the report is "
        "deterministic and backfill-safe; one grouped MAX + a "
        "broadcast 1-row reference",
)
def x126_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("corpus_max"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts").alias("last_seen"),
    )
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            "n_events",
            "last_seen",
            (
                (
                    F.unix_timestamp(F.col("corpus_max").cast("timestamp"))
                    - F.unix_timestamp(F.col("last_seen").cast("timestamp"))
                )
                / 60
            )
            .cast("long")
            .alias("lag_minutes"),
        )
        .orderBy("event_type")
    )


@register(
    "x127_repetition_ratio",
    """WITH d AS (
         SELECT source,
                list_transform(
                  range(1, len(toks) - 1),
                  i -> array_to_string((toks)[i:i+2], ' ')
                ) AS tri
         FROM (SELECT source, string_split(lower(text), ' ') AS toks
               FROM documents)
         WHERE len(toks) >= 3
       ), r AS (
         SELECT source,
                ROUND(1 - len(list_distinct(tri))
                          / CAST(len(tri) AS DOUBLE), 4) AS ratio
         FROM d
       )
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              ROUND(CAST(SUM(CAST(ratio AS DECIMAL(18,4))) AS DOUBLE)
                    / count(*), 4) AS mean_ratio,
              ROUND(MAX(ratio), 4) AS max_ratio,
              CAST(SUM(CASE WHEN ratio > 0.2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_repetitive
       FROM r GROUP BY source ORDER BY source""",
    doc="within-document repetition (the Gopher/MassiveText quality "
        "signal): per doc, the fraction of positional trigrams that "
        "are duplicates of an earlier one -- boilerplate and "
        "keyword-stuffed pages score high and get filtered before "
        "training. Trigram sets stay INSIDE each row (x03's HOF "
        "shingle shape, never exploded); the only shuffle is the "
        "per-source rollup. Per-doc ratios round-4 then DECIMAL-sum "
        "(x37's mean recipe); docs under 3 tokens are filtered before "
        "the transform so sequence() never runs descending",
)
def x127_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", _toks("text").alias("__toks")
    ).filter(F.size("__toks") >= 3)
    toks = F.col("__toks")
    tri = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    r = d.select(
        "source",
        F.round(
            F.lit(1)
            - F.size(F.array_distinct(tri))
            / F.size(tri).cast("double"),
            4,
        ).alias("ratio"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
            F.sum((F.col("ratio") > 0.2).cast("long"))
            .cast("long")
            .alias("n_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "x128_source_mix_kl",
    """WITH s AS (SELECT source, count(*) AS n FROM documents
                  GROUP BY source),
         t AS (SELECT SUM(n) AS total, count(*) AS k FROM s)
       SELECT source, CAST(n AS BIGINT) AS n_docs,
              ROUND(n / CAST(total AS DOUBLE), 6) AS p,
              ROUND((n / CAST(total AS DOUBLE))
                    * ln((n * k) / CAST(total AS DOUBLE)), 6) AS kl_term,
              ROUND(POWER(n - total / CAST(k AS DOUBLE), 2)
                    / (total / CAST(k AS DOUBLE)), 4) AS chi2_term
       FROM s, t ORDER BY source""",
    doc="training-mix drift vs the uniform target: per-source share p, "
        "its KL-divergence term p*ln(p/q) against q=1/k, and the "
        "chi-square term -- the mixture monitor that catches one "
        "source silently flooding the corpus before a training run "
        "locks in the wrong distribution. One source-keyed groupBy + "
        "a broadcast 1-row (total, k) aggregate; every term is a "
        "row-local double op on exact integer counts",
)
def x128_source_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    t = s.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    tot = F.col("total").cast("double")
    exp = F.col("total") / F.col("k").cast("double")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.col("n") / tot, 6).alias("p"),
            F.round(
                (F.col("n") / tot)
                * F.log((F.col("n") * F.col("k")) / tot),
                6,
            ).alias("kl_term"),
            F.round(F.pow(F.col("n") - exp, 2) / exp, 4).alias(
                "chi2_term"
            ),
        )
        .orderBy("source")
    )


@register(
    "x129_token_fertility",
    """SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
                  AS n_words,
              CAST(SUM(len(regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
                  AS n_subwords,
              ROUND(SUM(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                    / CAST(SUM(len(string_split(lower(text), ' ')))
                           AS DOUBLE), 4) AS fertility
       FROM documents GROUP BY lang ORDER BY lang""",
    doc="tokenizer fertility by language: subword-proxy tokens (the "
        "x14-style BPE-ish regex: letter runs, digit runs, isolated "
        "punctuation) per whitespace word -- the metric that exposes "
        "how much more context budget a language burns per word, the "
        "standard multi-lingual tokenizer-audit number. Pure "
        "expression work folded into one lang-keyed groupBy; counts "
        "are exact longs, the ratio is the only double",
)
def x129_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    n_words = F.size(F.split(low, " "))
    n_sub = F.size(
        F.regexp_extract_all(low, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
    )
    return (
        docs.select("lang", n_words.alias("w"), n_sub.alias("s"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("s").cast("long").alias("n_subwords"),
            F.round(
                F.sum("s") / F.sum("w").cast("double"), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "x130_embedding_outliers",
    """WITH n AS (
         SELECT label,
                ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))),
                      7) AS nrm
         FROM embeddings
       ), m AS (
         SELECT label,
                count(*) AS n_vecs,
                ROUND(CAST(SUM(CAST(nrm AS DECIMAL(28,7))) AS DOUBLE)
                      / count(*), 6) AS mean_norm
         FROM n GROUP BY label
       )
       SELECT n.label, CAST(m.n_vecs AS BIGINT) AS n_vecs,
              m.mean_norm,
              CAST(SUM(CASE WHEN ABS(n.nrm - m.mean_norm)
                                 > 0.1 * m.mean_norm
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM n JOIN m USING (label)
       GROUP BY n.label, m.n_vecs, m.mean_norm
       ORDER BY n.label""",
    doc="embedding-norm outlier audit: per label, vectors whose L2 "
        "norm sits >10% off the label mean -- broken encoders, "
        "zero-padded rows, and mis-normalized batches all show up as "
        "norm outliers before they poison ANN recall. Norm is the "
        "x63 row-local zip_with/aggregate fold (identical "
        "left-to-right order to DuckDB's list_dot_product), round-7 "
        "then DECIMAL-meaned (x111's recipe); the label-mean table "
        "broadcasts back for the row-local fence test",
)
def x130_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(v, v, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        7,
    )
    n = emb.select("label", nrm.alias("nrm"))
    m = n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(28,7)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_norm"),
    )
    return (
        n.join(F.broadcast(m), "label")
        .groupBy("label", "n_vecs", "mean_norm")
        .agg(
            F.sum(
                (
                    F.abs(F.col("nrm") - F.col("mean_norm"))
                    > 0.1 * F.col("mean_norm")
                ).cast("long")
            )
            .cast("long")
            .alias("n_outliers")
        )
        .orderBy("label")
    )


@register(
    "x131_retention_cohorts",
    """WITH w AS (
         SELECT user_id,
                CAST(FLOOR((FLOOR(date_part('epoch', ts)) - 1704067200)
                           / 604800.0) AS BIGINT) AS wk
         FROM events
       ), c AS (
         SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY user_id
       ), a AS (
         SELECT DISTINCT user_id, wk FROM w
       )
       SELECT c.cohort AS cohort_week,
              CAST(a.wk - c.cohort AS BIGINT) AS week_offset,
              CAST(count(*) AS BIGINT) AS n_users
       FROM a JOIN c USING (user_id)
       GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="weekly retention cohort matrix: users grouped by first-seen "
        "week (vs the 2024-01-01 epoch anchor), counted per week "
        "offset they return in -- the activation/retention triangle "
        "every growth dashboard starts from. Cohort assignment, "
        "active-week distinct, and the join all share the user key, "
        "so AQE can plan one user-hash exchange reused across stages; "
        "the final matrix groupBy is cohort-cardinality. Week index "
        "is floor-of-epoch arithmetic (x126's recipe), deterministic "
        "and timezone-free",
)
def x131_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor(
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.lit(1704067200)
        )
        / F.lit(604800.0)
    ).cast("long")
    w = ev.select("user_id", wk.alias("wk"))
    c = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    a = w.distinct()
    return (
        a.join(c, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("wk") - F.col("cohort")).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "x132_idf_drift",
    """WITH d AS (
         SELECT CASE WHEN CAST(('0x' || substr(md5(
                          'idf:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                     THEN 'A' ELSE 'B' END AS half,
                list_distinct(string_split(lower(text), ' ')) AS terms
         FROM documents
       ), n AS (
         SELECT SUM(CASE WHEN half = 'A' THEN 1 ELSE 0 END) AS n_a,
                SUM(CASE WHEN half = 'B' THEN 1 ELSE 0 END) AS n_b
         FROM d
       ), t AS (
         SELECT term,
                SUM(CASE WHEN half = 'A' THEN 1 ELSE 0 END) AS df_a,
                SUM(CASE WHEN half = 'B' THEN 1 ELSE 0 END) AS df_b
         FROM (SELECT half, unnest(terms) AS term FROM d)
         GROUP BY term
       )
       SELECT term, CAST(df_a AS BIGINT) AS df_a,
              CAST(df_b AS BIGINT) AS df_b,
              ROUND(ABS(ln((n_a + 1) / CAST(df_a + 1 AS DOUBLE))
                        - ln((n_b + 1) / CAST(df_b + 1 AS DOUBLE))),
                    6) AS drift
       FROM t, n
       ORDER BY drift DESC, term LIMIT 50""",
    doc="train/validation vocabulary drift: documents hash-split into "
        "deterministic halves (the x18 md5 split -- reruns never "
        "reassign), per-term smoothed IDF computed in each, top 50 "
        "terms by |IDF_A - IDF_B| -- the distribution-shift probe "
        "that catches a temporally- or source-biased split before "
        "eval numbers lie. Distinct terms stay in-row until ONE "
        "explode->groupBy(term) with both halves' document "
        "frequencies as conditional sums (no per-half passes); the "
        "half sizes ride a broadcast 1-row aggregate; top-k plans as "
        "TakeOrderedAndProject, never a global sort",
)
def x132_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    half = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("idf:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    d = docs.select(
        half.alias("half"),
        F.array_distinct(_toks("text")).alias("terms"),
    )
    n = d.groupBy().agg(
        F.sum((F.col("half") == "A").cast("long")).alias("n_a"),
        F.sum((F.col("half") == "B").cast("long")).alias("n_b"),
    )
    t = (
        d.select("half", F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(
            F.sum((F.col("half") == "A").cast("long")).alias("df_a"),
            F.sum((F.col("half") == "B").cast("long")).alias("df_b"),
        )
    )
    idf = lambda nn, df: F.log(
        (nn + F.lit(1)) / (df + F.lit(1)).cast("double")
    )
    return (
        t.crossJoin(F.broadcast(n))
        .select(
            "term",
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
            F.round(
                F.abs(
                    idf(F.col("n_a"), F.col("df_a"))
                    - idf(F.col("n_b"), F.col("df_b"))
                ),
                6,
            ).alias("drift"),
        )
        .orderBy(F.desc("drift"), "term")
        .limit(50)
    )


@register(
    "x133_prefix_dup",
    """WITH f AS (
         SELECT doc_id, source,
                md5(array_to_string(
                    (string_split(lower(text), ' '))[1:8], ' ')) AS fp
         FROM documents
       )
       SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
       FROM f GROUP BY fp HAVING count(*) > 1
       ORDER BY n_docs DESC, fp""",
    doc="templated-document detection: docs fingerprinted by their "
        "first 8 tokens (md5), groups >1 reported with source spread "
        "and a deterministic exemplar -- boilerplate mirrors and "
        "form-letter spam share prefixes long before full-text "
        "near-dup fires, and the prefix hash is ONE narrow groupBy "
        "(no shingles, no pairs) so it runs as a cheap first-pass "
        "filter at any scale. md5 is bit-identical cross-engine; "
        "short docs truncate the slice identically on both",
)
def x133_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.slice(_toks("text"), 1, 8))
    )
    return (
        docs.select("doc_id", "source", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "fp")
    )


@register(
    "x134_rfm_segments",
    """WITH mx AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
       cust AS (
         SELECT o_custkey,
                CAST(FLOOR((FLOOR(date_part('epoch',
                                  (SELECT dmax FROM mx))) -
                            FLOOR(date_part('epoch', MAX(o_orderdate))))
                           / 86400.0) AS BIGINT) AS recency_days,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                                AS DOUBLE), 2) AS DOUBLE) AS monetary
         FROM orders GROUP BY o_custkey
       ), th AS (
         -- round-6 thresholds before comparison (the x119 1-ulp
         -- interpolation hazard)
         SELECT list_transform(quantile_cont(recency_days,
                  [0.25, 0.5, 0.75]), t -> ROUND(t, 6)) AS t_r,
                list_transform(quantile_cont(frequency,
                  [0.25, 0.5, 0.75]), t -> ROUND(t, 6)) AS t_f,
                list_transform(quantile_cont(monetary,
                  [0.25, 0.5, 0.75]), t -> ROUND(t, 6)) AS t_m
         FROM cust
       )
       SELECT CAST(4 - len(list_filter(t_r, t -> recency_days >= t))
                   AS BIGINT) AS r_score,
              CAST(1 + len(list_filter(t_f, t -> frequency >= t))
                   AS BIGINT) AS f_score,
              CAST(1 + len(list_filter(t_m, t -> monetary >= t))
                   AS BIGINT) AS m_score,
              CAST(count(*) AS BIGINT) AS n_customers,
              -- total, not average: the DECIMAL sum is exact and its
              -- double cast correctly rounded; a sum/count division
              -- can land on a .xx5 tie and round differently per engine
              ROUND(CAST(SUM(CAST(monetary AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS total_monetary
       FROM cust, th
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    doc="RFM customer segmentation: per-customer recency (days behind "
        "the corpus max order date -- deterministic, never wall "
        "clock), frequency, and DECIMAL-exact monetary, each scored "
        "1-4 against broadcast quartile thresholds (x119's "
        "rank-against-quantile-array pattern; recency scores "
        "INVERTED so fresher = higher), segments counted. One "
        "customer-keyed groupBy + a 1-row threshold broadcast + a "
        "segment-cardinality rollup; quantile_cont == percentile "
        "bit-for-bit (q30)",
)
def x134_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("dmax"))
    cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.floor(
                (
                    F.unix_timestamp(F.max("dmax").cast("timestamp"))
                    - F.unix_timestamp(
                        F.max("o_orderdate").cast("timestamp")
                    )
                )
                / F.lit(86400.0)
            )
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("monetary"),
        )
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    r6 = lambda c: F.transform(c, lambda t: F.round(t, 6))
    th = cust.agg(
        r6(F.percentile(F.col("recency_days"), qs)).alias("t_r"),
        r6(F.percentile(F.col("frequency"), qs)).alias("t_f"),
        r6(F.percentile(F.col("monetary"), qs)).alias("t_m"),
    )
    rank = lambda v, t: F.size(
        F.filter(t, lambda x: v >= x)
    )
    return (
        cust.crossJoin(F.broadcast(th))
        .select(
            (F.lit(4) - rank(F.col("recency_days"), F.col("t_r")))
            .cast("long")
            .alias("r_score"),
            (F.lit(1) + rank(F.col("frequency"), F.col("t_f")))
            .cast("long")
            .alias("f_score"),
            (F.lit(1) + rank(F.col("monetary"), F.col("t_m")))
            .cast("long")
            .alias("m_score"),
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum(F.col("monetary").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "x135_load_profile",
    """WITH e AS (
         SELECT CAST((FLOOR(FLOOR(date_part('epoch', ts)) / 86400) + 4)
                     % 7 AS BIGINT) AS dow,
                CAST(FLOOR((FLOOR(date_part('epoch', ts)) % 86400)
                           / 3600) AS BIGINT) AS hour
         FROM events
       ), t AS (SELECT count(*) AS total FROM e)
       SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
              ROUND(count(*) / CAST(total AS DOUBLE), 6) AS share
       FROM e, t GROUP BY dow, hour, total ORDER BY dow, hour""",
    doc="traffic load profile: events bucketed into day-of-week x "
        "hour-of-day cells with share-of-total -- the capacity-"
        "planning heatmap. Day-of-week comes from pure epoch "
        "arithmetic ((days + 4) % 7, 0=Sunday, anchored on 1970-01-01 "
        "= Thursday) instead of engine dayofweek() functions, whose "
        "0- vs 1-based conventions differ; one 168-cell groupBy with "
        "a broadcast total",
)
def x135_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    e = ev.select(
        ((F.floor(epoch / 86400) + 4) % 7).cast("long").alias("dow"),
        F.floor((epoch % 86400) / 3600).cast("long").alias("hour"),
    )
    t = e.agg(F.count(F.lit(1)).alias("total"))
    return (
        e.groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hour",
            "n_events",
            F.round(
                F.col("n_events") / F.col("total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("dow", "hour")
    )


@register(
    "x136_token_entropy",
    """WITH tc AS (
         SELECT source, tok, count(*) AS c
         FROM (SELECT source,
                      unnest(string_split(lower(text), ' ')) AS tok
               FROM documents)
         GROUP BY source, tok
       ), tot AS (
         SELECT source, SUM(c) AS total, count(*) AS n_distinct
         FROM tc GROUP BY source
       )
       SELECT tc.source,
              CAST(tot.total AS BIGINT) AS n_tokens,
              CAST(tot.n_distinct AS BIGINT) AS n_distinct,
              ROUND(CAST(SUM(CAST(ROUND(
                       -(tc.c / CAST(tot.total AS DOUBLE))
                        * ln(tc.c / CAST(tot.total AS DOUBLE)), 8)
                     AS DECIMAL(28,8))) AS DOUBLE), 4) AS entropy,
              ROUND(CAST(SUM(CAST(ROUND(
                       -(tc.c / CAST(tot.total AS DOUBLE))
                        * ln(tc.c / CAST(tot.total AS DOUBLE)), 8)
                     AS DECIMAL(28,8))) AS DOUBLE)
                    / NULLIF(ln(CAST(tot.n_distinct AS DOUBLE)), 0), 4)
                  AS norm_entropy
       FROM tc JOIN tot USING (source)
       GROUP BY tc.source, tot.total, tot.n_distinct
       ORDER BY tc.source""",
    doc="per-source token Shannon entropy (+ normalized by "
        "ln(vocab)): low-entropy sources are templated/spun content, "
        "high-entropy ones are noise -- the corpus-diversity dial "
        "used when setting mixture weights. Two partial-aggregating "
        "groupBys (source x token, then source) with the "
        "source-cardinality totals broadcast back; per-token terms "
        "are round-8 then DECIMAL-summed so the reduction order "
        "cannot move the 4th decimal (the x88 recipe)",
)
def x136_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(_toks("text")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.groupBy("source").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    p = F.col("c") / F.col("total").cast("double")
    term = F.round(-p * F.log(p), 8).cast("decimal(28,8)")
    return (
        tc.join(F.broadcast(tot), "source")
        .groupBy(
            "source",
            F.col("total").cast("long").alias("n_tokens"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
        )
        .agg(F.sum(term).alias("__h"))
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            F.round(F.col("__h").cast("double"), 4).alias("entropy"),
            F.round(
                F.col("__h").cast("double")
                / F.nullif(
                    F.log(F.col("n_distinct").cast("double")), F.lit(0.0)
                ),
                4,
            ).alias("norm_entropy"),
        )
        .orderBy("source")
    )


@register(
    "x137_join_cardinality",
    """WITH oc AS (
         SELECT 'orders->customer' AS edge,
                (SELECT count(*) FROM orders) AS n_left,
                (SELECT count(*) FROM customer) AS n_right,
                count(*) AS n_shared_keys,
                SUM(cl * cr) AS join_rows
         FROM (SELECT o_custkey AS k, count(*) AS cl FROM orders
               GROUP BY 1) l
         JOIN (SELECT c_custkey AS k, count(*) AS cr FROM customer
               GROUP BY 1) r USING (k)
       ), lo AS (
         SELECT 'lineitem->orders' AS edge,
                (SELECT count(*) FROM lineitem) AS n_left,
                (SELECT count(*) FROM orders) AS n_right,
                count(*) AS n_shared_keys,
                SUM(cl * cr) AS join_rows
         FROM (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
               GROUP BY 1) l
         JOIN (SELECT o_orderkey AS k, count(*) AS cr FROM orders
               GROUP BY 1) r USING (k)
       ), ls AS (
         SELECT 'lineitem->supplier' AS edge,
                (SELECT count(*) FROM lineitem) AS n_left,
                (SELECT count(*) FROM supplier) AS n_right,
                count(*) AS n_shared_keys,
                SUM(cl * cr) AS join_rows
         FROM (SELECT l_suppkey AS k, count(*) AS cl FROM lineitem
               GROUP BY 1) l
         JOIN (SELECT s_suppkey AS k, count(*) AS cr FROM supplier
               GROUP BY 1) r USING (k)
       ), u AS (
         SELECT * FROM oc UNION ALL SELECT * FROM lo
         UNION ALL SELECT * FROM ls
       )
       SELECT edge, CAST(n_left AS BIGINT) AS n_left,
              CAST(n_right AS BIGINT) AS n_right,
              CAST(n_shared_keys AS BIGINT) AS n_shared_keys,
              CAST(join_rows AS BIGINT) AS join_rows,
              ROUND(join_rows / CAST(n_left AS DOUBLE), 4)
                  AS amplification
       FROM u ORDER BY edge""",
    doc="join-cardinality estimation from per-key histograms: for each "
        "FK edge, the exact inner-join output size computed as "
        "sum(c_left * c_right) over shared keys WITHOUT executing the "
        "join -- the perfect-histogram version of what a CBO estimates "
        "before picking join order, and the pre-flight check that "
        "catches a fan-out join (amplification >> 1) before it OOMs a "
        "100 TB pipeline. Per edge: two partial-aggregating key "
        "groupBys + a key-cardinality join, never the row-level join "
        "itself",
)
def x137_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    def edge(name, left, lk, right, rk):
        l = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("cl")
        )
        r = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cr")
        )
        nl = left.agg(F.count(F.lit(1)).alias("n_left"))
        nr = right.agg(F.count(F.lit(1)).alias("n_right"))
        return (
            l.join(r, "k")
            .agg(
                F.count(F.lit(1)).alias("n_shared_keys"),
                F.sum(F.col("cl") * F.col("cr")).alias("join_rows"),
            )
            .crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(nr))
            .select(
                F.lit(name).alias("edge"),
                F.col("n_left").cast("long").alias("n_left"),
                F.col("n_right").cast("long").alias("n_right"),
                F.col("n_shared_keys").cast("long").alias("n_shared_keys"),
                F.col("join_rows").cast("long").alias("join_rows"),
                F.round(
                    F.col("join_rows") / F.col("n_left").cast("double"), 4
                ).alias("amplification"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    parts = [
        edge("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        edge("lineitem->supplier", li, "l_suppkey", sup, "s_suppkey"),
    ]
    return functools.reduce(lambda a, b: a.unionAll(b), parts).orderBy(
        "edge"
    )


@register(
    "x138_jaccard_curve",
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
         SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
         FROM e a JOIN e b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
       ), j AS (
         SELECT LEAST(CAST(FLOOR(
                  ROUND(CAST(inter AS DOUBLE)
                        / (n_a + n_b - inter), 4) * 10) AS BIGINT), 9)
                    AS band
         FROM p
       ), b AS (
         SELECT band, count(*) AS n_pairs FROM j GROUP BY band
       )
       SELECT ROUND(band / 10.0, 1) AS band_lo,
              CAST(n_pairs AS BIGINT) AS n_pairs,
              CAST(SUM(n_pairs) OVER (ORDER BY band DESC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS n_pairs_at_or_above
       FROM b ORDER BY band_lo""",
    doc="dedup-threshold calibration curve: ALL shingle-sharing pairs "
        "(x03's blocked pair stage, unthresholded) banded by Jaccard "
        "decile, with the cumulative pairs-at-or-above count -- the "
        "table you read before choosing a near-dup cutoff (how many "
        "pairs does 0.5 vs 0.7 actually merge?). Reuses the shared "
        "localCheckpoint'ed pair counts; banding is row-local; the "
        "cumulative window runs over <= 10 band rows, not data",
)
def x138_jaccard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    counts = _shared_pair_counts(spark, sf_dir)
    jac = F.round(
        F.col("inter")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        4,
    )
    j = counts.select(
        F.least(F.floor(jac * 10).cast("long"), F.lit(9).cast("long")).alias(
            "band"
        )
    )
    b = j.groupBy("band").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        b.select(
            F.round(F.col("band") / 10.0, 1).alias("band_lo"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.sum("n_pairs").over(w).cast("long").alias(
                "n_pairs_at_or_above"
            ),
        )
        .orderBy("band_lo")
    )


@register(
    "x139_session_length_dist",
    """WITH ordered AS (
         SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events
       ), flagged AS (
         SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
         FROM ordered
       ), sessions AS (
         SELECT user_id,
                CAST(SUM(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_id
         FROM flagged
       ), sz AS (
         SELECT user_id, session_id, count(*) AS n_events
         FROM sessions GROUP BY 1, 2
       ), lab AS (
         SELECT CASE WHEN n_events = 1 THEN '1 (bounce)'
                     WHEN n_events = 2 THEN '2'
                     WHEN n_events <= 5 THEN '3-5'
                     WHEN n_events <= 10 THEN '6-10'
                     ELSE '11+' END AS bucket
         FROM sz
       ), tot AS (SELECT count(*) AS t FROM lab)
       SELECT bucket, CAST(count(*) AS BIGINT) AS n_sessions,
              ROUND(count(*) / CAST(t AS DOUBLE), 4) AS share
       FROM lab, tot GROUP BY bucket, t ORDER BY bucket""",
    doc="session-length distribution with the bounce bucket: x21's "
        "gap-sessionization rolled into banded session sizes + share "
        "-- the engagement-shape report (a bounce-heavy feed is bot "
        "traffic or broken deep links). Same single user-key shuffle "
        "as x21 (window + rollup co-partitioned), then a 5-row banded "
        "aggregate with a broadcast total",
)
def x139_session_length_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    sz = (
        flagged.select(
            "user_id", F.sum("new_session").over(run).alias("session_id")
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    lab = sz.select(
        F.when(F.col("n_events") == 1, "1 (bounce)")
        .when(F.col("n_events") == 2, "2")
        .when(F.col("n_events") <= 5, "3-5")
        .when(F.col("n_events") <= 10, "6-10")
        .otherwise("11+")
        .alias("bucket")
    )
    tot = lab.agg(F.count(F.lit(1)).alias("t"))
    return (
        lab.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_sessions",
            F.round(
                F.col("n_sessions") / F.col("t").cast("double"), 4
            ).alias("share"),
        )
        .orderBy("bucket")
    )


def _x140_oracle() -> str:
    """Chained-CTE replay of 3 Markov power iterations (the x104
    pagerank oracle pattern, on the behavioral transition matrix)."""
    head = """WITH s AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) AS next_type
         FROM events
       ), pm AS (
         SELECT event_type AS src, next_type AS dst, count(*) AS n
         FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
       ), tt AS (SELECT src, SUM(n) AS t FROM pm GROUP BY 1),
       P AS (
         SELECT pm.src, pm.dst, pm.n / CAST(tt.t AS DOUBLE) AS pp
         FROM pm JOIN tt USING (src)
       ), st AS (SELECT DISTINCT event_type AS et FROM events),
       kk AS (SELECT count(*) AS k FROM st),
       v0 AS (SELECT et, CAST(1.0 AS DOUBLE) / k AS v FROM st, kk)"""
    steps = []
    for i in range(1, 4):
        steps.append(f"""
       i{i} AS (
         SELECT P.dst AS et,
                ROUND(CAST(SUM(CAST(ROUND(v{i-1}.v * P.pp, 12)
                                    AS DECIMAL(28,12))) AS DOUBLE), 12)
                    AS v
         FROM v{i-1} JOIN P ON v{i-1}.et = P.src GROUP BY P.dst
       ), v{i} AS (
         SELECT st.et, COALESCE(i{i}.v, CAST(0.0 AS DOUBLE)) AS v
         FROM st LEFT JOIN i{i} ON st.et = i{i}.et
       )""")
    return (
        head
        + ","
        + ",".join(steps)
        + """
       SELECT et AS event_type, ROUND(v, 6) AS stationary
       FROM v3 ORDER BY et"""
    )


@register(
    "x140_markov_stationary",
    _x140_oracle(),
    doc="stationary distribution of the behavioral Markov chain: "
        "x96's transition matrix power-iterated 3 rounds from uniform "
        "-- where user journeys CONCENTRATE in the long run (states "
        "with no outgoing edges leak mass by design; fixed depth "
        "bounds lineage). The x104 iterative recipe on a "
        "type-cardinality matrix: contributions round-12 then "
        "DECIMAL-summed, state re-rounded per round so both engines "
        "enter each iteration bit-identical; one user-key window "
        "derives the matrix, every iteration is type-cardinality "
        "(broadcast) work",
)
def x140_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    pm = s.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    tt = pm.groupBy("src").agg(F.sum("n").alias("t"))
    P = (
        pm.join(tt, "src")
        .select("src", "dst", (F.col("n") / F.col("t").cast("double")).alias("pp"))
        .localCheckpoint(eager=False)
    )
    st = ev.select(F.col("event_type").alias("et")).distinct()
    kk = st.agg(F.count(F.lit(1)).alias("k"))
    v = st.crossJoin(F.broadcast(kk)).select(
        "et", (F.lit(1.0) / F.col("k")).alias("v")
    )
    for _ in range(3):
        contrib = (
            v.join(F.broadcast(P), v["et"] == P["src"])
            .select(
                F.col("dst").alias("et2"),
                F.round(F.col("v") * F.col("pp"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("et2")
            .agg(F.round(F.sum("c").cast("double"), 12).alias("nv"))
        )
        v = (
            st.join(contrib, st["et"] == contrib["et2"], "left")
            .select("et", F.coalesce(F.col("nv"), F.lit(0.0)).alias("v"))
        )
    return v.select(
        F.col("et").alias("event_type"),
        F.round(F.col("v"), 6).alias("stationary"),
    ).orderBy("event_type")


@register(
    "x141_event_pivot",
    """SELECT CAST(FLOOR(FLOOR(date_part('epoch', ts)) / 86400)
                   AS BIGINT) AS day,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS click,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS error,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) AS BIGINT) AS purchase,
              CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS BIGINT) AS signup,
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS view
       FROM events GROUP BY 1 ORDER BY day""",
    doc="daily x event-type PIVOT (long->wide): the wide daily-ops "
        "matrix every monitoring dashboard consumes. Spark's "
        "df.pivot() with an EXPLICIT value list -- omitting the list "
        "makes pivot run a blocking distinct-collect planning pass "
        "AND produce schema drift when a type is absent some day; the "
        "oracle is the equivalent conditional-sum formulation, which "
        "is also exactly what Catalyst lowers pivot to (one "
        "partial-aggregating groupBy, no extra shuffle vs the long "
        "form). Day index is epoch arithmetic (x135)",
)
def x141_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400
    ).cast("long")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.select(day.alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
    )
    # pivot yields NULL for absent (day, type) cells; the wide report
    # wants 0 (matching the oracle's conditional sums)
    return out.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    ).orderBy("day")


@register(
    "x142_cube_sales",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS revenue
       FROM orders
       GROUP BY CUBE(o_orderstatus, o_orderpriority)
       ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""",
    doc="CUBE over (status, priority) with GROUPING() markers: all four "
        "marginal combinations in one pass -- completes the "
        "grouping-sets surface next to q10's ROLLUP (CUBE adds the "
        "per-priority-across-status marginal ROLLUP lacks). Catalyst "
        "lowers CUBE to one Expand + one hash aggregate: each input "
        "row fans to 4 grouping sets map-side, partial aggregation "
        "still applies -- no extra shuffle over the plain groupBy; "
        "DECIMAL-exact revenue; GROUPING() bits disambiguate real "
        "NULLs from subtotal rows",
)
def x142_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping() is only resolvable INSIDE the cube aggregate
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "n_orders",
            "revenue",
        )
        .orderBy(
            "g_status", "g_priority", "o_orderstatus", "o_orderpriority"
        )
    )


@register(
    "x143_stream_dedup_counts",
    """SELECT event_type,
              CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
       FROM events GROUP BY 1 ORDER BY 1""",
    doc="streaming exact dedup, driver-hashable: the events table "
        "materialized TWICE into a file-stream source (every row a "
        "duplicate), drained through "
        "dropDuplicatesWithinWatermark(event_id) in one availableNow "
        "micro-batch, then rolled up per type -- hash-equal to the "
        "batch count-distinct oracle, proving the streaming dedup leg "
        "end-to-end through the correctness gate (streaming/dedup.py; "
        "single-batch drain keeps every duplicate inside the "
        "watermark horizon, the bounded-state trade documented "
        "there). State is keyed by event_id and expires with the "
        "watermark at scale",
)
def x143_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...streaming.dedup import dedup_stream
    from ...streaming.windows import drain_to_memory

    with tempfile.TemporaryDirectory(
        prefix="x143_stream_", ignore_cleanup_errors=True
    ) as tmp:
        # two copies = every event_id duplicated across files
        stream = _events_stream(spark, sf_dir, tmp, 2)
        counts = drain_to_memory(
            dedup_stream(stream, ["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events")),
            "complete",
            f"{tmp}/ckpt",
        )
    return counts.orderBy("event_type")


@register(
    "x144_bloom_prefilter",
    """WITH dim AS (
         SELECT DISTINCT s_suppkey AS k FROM supplier
         WHERE s_nationkey < 5
       ), bits AS (
         SELECT DISTINCT b FROM (
           SELECT CAST(('0x' || substr(md5('b1:' || CAST(k AS VARCHAR)),
                        1, 8)) AS BIGINT) % 4096 AS b FROM dim
           UNION ALL
           SELECT CAST(('0x' || substr(md5('b2:' || CAST(k AS VARCHAR)),
                        1, 8)) AS BIGINT) % 4096 AS b FROM dim
         )
       ), ba AS (SELECT list(b ORDER BY b) AS arr FROM bits),
       probe AS (
         SELECT l_suppkey,
                CAST(('0x' || substr(md5('b1:' ||
                      CAST(l_suppkey AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 4096 AS b1,
                CAST(('0x' || substr(md5('b2:' ||
                      CAST(l_suppkey AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 4096 AS b2
         FROM lineitem
       ), f AS (
         SELECT p.l_suppkey,
                (list_contains(ba.arr, p.b1) AND
                 list_contains(ba.arr, p.b2)) AS bloom_pass,
                EXISTS (SELECT 1 FROM dim WHERE dim.k = p.l_suppkey)
                    AS true_match
         FROM probe p, ba
       )
       SELECT CAST(count(*) AS BIGINT) AS n_probe,
              CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pass,
              CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_true,
              CAST(SUM(CASE WHEN bloom_pass AND NOT true_match
                            THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_false_pos,
              CAST(SUM(CASE WHEN NOT bloom_pass AND true_match
                            THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_false_neg
       FROM f""",
    doc="runtime-filter (bloom) join pruning, simulated "
        "deterministically: the selective dim side's keys set 2 "
        "md5-derived bits in a 4096-bit filter; the fact side tests "
        "membership ROW-LOCALLY against the broadcast bit array and "
        "only survivors would reach the join shuffle -- the mechanism "
        "behind spark.sql.optimizer.runtimeFilter.* that turns a "
        "selective dim filter into fact-scan pruning at 100 TB. "
        "Report proves the contract: n_false_neg must be 0 (blooms "
        "never drop true matches), n_false_pos is the wasted-shuffle "
        "overhead. md5 bit positions are bit-identical cross-engine",
)
def x144_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        sup.filter(F.col("s_nationkey") < 5)
        .select(F.col("s_suppkey").alias("k"))
        .distinct()
    )

    def pos(salt, col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 4096
        )

    bits = (
        dim.select(pos("b1:", F.col("k")).alias("b"))
        .unionAll(dim.select(pos("b2:", F.col("k")).alias("b")))
        .distinct()
    )
    ba = bits.agg(F.array_sort(F.collect_list("b")).alias("arr"))
    probe = li.select(
        "l_suppkey",
        pos("b1:", F.col("l_suppkey")).alias("b1"),
        pos("b2:", F.col("l_suppkey")).alias("b2"),
    )
    truth = dim.select(F.col("k").alias("l_suppkey")).withColumn(
        "__t", F.lit(True)
    )
    f = (
        probe.crossJoin(F.broadcast(ba))
        .join(F.broadcast(truth), "l_suppkey", "left")
        .select(
            (
                F.array_contains(F.col("arr"), F.col("b1"))
                & F.array_contains(F.col("arr"), F.col("b2"))
            ).alias("bloom_pass"),
            F.coalesce(F.col("__t"), F.lit(False)).alias("true_match"),
        )
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_pass"),
        F.sum(F.col("true_match").cast("long")).cast("long").alias("n_true"),
        F.sum((F.col("bloom_pass") & ~F.col("true_match")).cast("long"))
        .cast("long")
        .alias("n_false_pos"),
        F.sum((~F.col("bloom_pass") & F.col("true_match")).cast("long"))
        .cast("long")
        .alias("n_false_neg"),
    )


@register(
    "x145_decay_engagement",
    """WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
       s AS (
         SELECT user_id,
                CAST(ROUND(
                  value * exp(-0.1 *
                    ((FLOOR(date_part('epoch', (SELECT tmax FROM mx))) -
                      FLOOR(date_part('epoch', ts))) / 86400.0)), 6)
                  AS DECIMAL(28,6)) AS w
         FROM events
       ), agg AS (
         -- round the exact DECIMAL sum FIRST, cast after: rounding the
         -- double cast instead lands on representation ties (x.xxxx5
         -- has no exact double) that the engines break differently
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                CAST(ROUND(SUM(w), 4) AS DOUBLE) AS score
         FROM s GROUP BY user_id
       )
       SELECT user_id, n_events, score FROM agg
       ORDER BY score DESC, user_id LIMIT 100""",
    doc="exponential time-decay engagement score: per user, "
        "sum(value * exp(-0.1 * age_days)) against the corpus max "
        "timestamp (deterministic, backfill-safe -- x126's anchor) -- "
        "the recency-weighted ranking signal feeding retention "
        "targeting and sample weighting (x38's weighted sampler "
        "upstream). Per-event terms are row-local exp() on identical "
        "doubles, round-6 then DECIMAL-summed (x88 recipe); one "
        "user-key groupBy; top-100 plans as TakeOrderedAndProject",
)
def x145_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    age_days = (
        F.unix_timestamp(F.col("tmax").cast("timestamp"))
        - F.unix_timestamp(F.col("ts").cast("timestamp"))
    ) / F.lit(86400.0)
    w = F.round(F.col("value") * F.exp(F.lit(-0.1) * age_days), 6).cast(
        "decimal(28,6)"
    )
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", w.alias("w"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("w"), 4).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), "user_id")
        .limit(100)
    )


@register(
    "x146_split_leakage",
    f"""WITH {_X03_PAIRS_CTE},
       sp AS (
         SELECT id_a, id_b,
                CASE WHEN substr(md5(concat(CAST(id_a AS VARCHAR),
                       ':split')), 1, 4) < '{sampling._threshold_hex(0.25)}'
                     THEN 'test' ELSE 'train' END AS sa,
                CASE WHEN substr(md5(concat(CAST(id_b AS VARCHAR),
                       ':split')), 1, 4) < '{sampling._threshold_hex(0.25)}'
                     THEN 'test' ELSE 'train' END AS sb
         FROM pairs
       ), cls AS (
         SELECT CASE WHEN sa = sb THEN concat(sa, '-', sa)
                     ELSE 'cross' END AS pair_class, id_a, id_b
         FROM sp
       ), np AS (
         SELECT pair_class, CAST(count(*) AS BIGINT) AS n_pairs
         FROM cls GROUP BY 1
       ), docs AS (
         SELECT pair_class, id_a AS d FROM cls
         UNION ALL SELECT pair_class, id_b FROM cls
       ), nd AS (
         SELECT pair_class, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         FROM docs GROUP BY 1
       )
       SELECT pair_class, n_pairs, n_docs
       FROM np JOIN nd USING (pair_class) ORDER BY pair_class""",
    doc="train/test split LEAKAGE audit: near-dup pairs (x03's shared "
        "shingle-blocked Jaccard stage, threshold 0.5) classified by "
        "which side of x18's deterministic hash split each member lands "
        "on -- a 'cross' pair is an eval document whose near-duplicate "
        "is in train, the contamination mode x34 cannot see because "
        "both sides live in the SAME corpus. Split assignment is a "
        "row-local md5 expression (pure function of doc_id, no join "
        "back to the corpus); the expensive pair stage is shared with "
        "x03/x24/x44/x68/x70 via the session cache, so the audit rides "
        "an already-derived pairs table at near-zero marginal cost; "
        "class rollups are 3-row aggregates",
)
def x146_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    sp = sampling.deterministic_split(pairs, "id_a", 0.25, out="sa")
    sp = sampling.deterministic_split(sp, "id_b", 0.25, out="sb")
    cls = sp.withColumn(
        "pair_class",
        F.when(
            F.col("sa") == F.col("sb"), F.concat_ws("-", "sa", "sa")
        ).otherwise(F.lit("cross")),
    )
    np = cls.groupBy("pair_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs = cls.select("pair_class", F.col("id_a").alias("d")).union(
        cls.select("pair_class", F.col("id_b").alias("d"))
    )
    nd = docs.groupBy("pair_class").agg(
        F.countDistinct("d").cast("long").alias("n_docs")
    )
    return np.join(nd, "pair_class").orderBy("pair_class")


@register(
    "x147_corr_matrix",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
              ROUND(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
              ROUND(corr(l_quantity, l_tax), 6) AS corr_qty_tax,
              ROUND(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
              ROUND(corr(l_extendedprice, l_tax), 6) AS corr_price_tax,
              ROUND(corr(l_discount, l_tax), 6) AS corr_disc_tax
       FROM lineitem""",
    doc="pairwise Pearson correlation of the four lineitem measures in "
        "ONE aggregate pass: corr is algebraic (co-moments merge "
        "associatively), so all six pairs compute map-side partials in "
        "a single scan with one 1-row reduce -- the feature-redundancy "
        "screen a training pipeline runs before fitting anything, and "
        "at 100 TB it costs exactly one read of the two columns per "
        "pair (column pruning keeps the scan at 4 columns). Round-6 "
        "absorbs partial-merge-order jitter in the co-moment low bits",
)
def x147_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "corr_qty_price"),
        ("l_quantity", "l_discount", "corr_qty_disc"),
        ("l_quantity", "l_tax", "corr_qty_tax"),
        ("l_extendedprice", "l_discount", "corr_price_disc"),
        ("l_extendedprice", "l_tax", "corr_price_tax"),
        ("l_discount", "l_tax", "corr_disc_tax"),
    ]
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[F.round(F.corr(a, b), 6).alias(n) for a, b, n in pairs],
    )


@register(
    "x148_chi2_independence",
    """WITH cells AS (
         SELECT o_orderpriority AS pr, o_orderstatus AS st,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders GROUP BY 1, 2
       ), rt AS (SELECT pr, SUM(cnt) AS rt FROM cells GROUP BY pr),
       ct AS (SELECT st, SUM(cnt) AS ct FROM cells GROUP BY st),
       nn AS (SELECT SUM(cnt) AS n,
                     count(DISTINCT pr) AS npr,
                     count(DISTINCT st) AS nst
              FROM cells),
       j AS (
         SELECT c.cnt,
                CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) /
                    CAST(nn.n AS DOUBLE) AS exp
         FROM cells c
         JOIN rt r ON c.pr = r.pr
         JOIN ct t ON c.st = t.st
         CROSS JOIN nn
       )
       SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
              CAST((SELECT (npr - 1) * (nst - 1) FROM nn) AS BIGINT)
                  AS dof,
              CAST(count(*) AS BIGINT) AS n_cells,
              ROUND(CAST(SUM(CAST(ROUND(
                    (cnt - exp) * (cnt - exp) / exp, 6)
                  AS DECIMAL(28,6))) AS DOUBLE), 4) AS chi2
       FROM j""",
    doc="chi-square independence test of order priority x status from "
        "one contingency pass: a single groupBy(priority, status) "
        "reduces the corpus to category-cardinality cells; marginals, "
        "expected counts, and the statistic are all arithmetic over "
        "that tiny table (broadcast joins, 1-row total). Per-cell "
        "contributions are identical doubles cross-engine (exact int "
        "counts through correctly-rounded * and /), round-6 "
        "DECIMAL-summed so the 15-cell reduction order cannot move "
        "the result (x88 recipe) -- the drift/independence screen for "
        "categorical metadata at corpus scale",
)
def x148_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = cells.localCheckpoint(eager=False)  # category-cardinality
    rt = cells.groupBy("pr").agg(F.sum("cnt").alias("rt"))
    ct = cells.groupBy("st").agg(F.sum("cnt").alias("ct"))
    nn = cells.agg(
        F.sum("cnt").alias("n"),
        F.countDistinct("pr").alias("npr"),
        F.countDistinct("st").alias("nst"),
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    contrib = F.round(
        (F.col("cnt") - F.col("exp"))
        * (F.col("cnt") - F.col("exp"))
        / F.col("exp"),
        6,
    ).cast("decimal(28,6)")
    j = (
        cells.join(F.broadcast(rt), "pr")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(nn))
        .withColumn("exp", exp)
    )
    return j.agg(
        F.first("n").cast("long").alias("n"),
        ((F.first("npr") - 1) * (F.first("nst") - 1))
        .cast("long")
        .alias("dof"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(contrib).cast("double"), 4).alias("chi2"),
    )


@register(
    "x149_interval_islands",
    """WITH iv AS (
         SELECT l.l_suppkey AS sk, l.l_orderkey AS ok,
                l.l_linenumber AS ln,
                least(CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS s,
                greatest(CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS e
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       ), m AS (
         SELECT sk, ok, ln, s, e,
                MAX(e) OVER (PARTITION BY sk ORDER BY s, e, ok, ln
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
         FROM iv
       ), isl AS (
         SELECT sk, s, e,
                SUM(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
                  OVER (PARTITION BY sk ORDER BY s, e, ok, ln
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
         FROM m
       ), g AS (
         SELECT sk, island, MIN(s) AS is_, MAX(e) AS ie_,
                count(*) AS n_iv
         FROM isl GROUP BY 1, 2
       )
       SELECT CAST(sk AS BIGINT) AS suppkey,
              CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
              CAST(count(*) AS BIGINT) AS n_islands,
              CAST(SUM(date_diff('day', is_, ie_) + 1) AS BIGINT)
                  AS covered_days
       FROM g GROUP BY sk ORDER BY suppkey LIMIT 200""",
    doc="gaps-and-islands: per supplier, order-to-ship activity "
        "intervals merged into maximal overlapping runs (break when an "
        "interval starts after the running MAX(end) of everything "
        "before it), reporting islands and total covered days -- the "
        "busy-period/utilization shape behind SLA and capacity audits, "
        "and the interval-union primitive x113's SCD2 intervals don't "
        "cover. One shuffle on the entity key; cumulative-max and "
        "island-id windows run per supplier IN PARALLEL (no global "
        "sort, no SinglePartition); the window order key includes "
        "(orderkey, linenumber) so tie order -- and with it the "
        "running max -- is bit-identical cross-engine. Intervals are "
        "least/greatest-normalized: ~47%% of synthetic shipdates "
        "precede their order date",
)
def x149_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("sk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_shipdate").cast("date").alias("sd"),
        "l_orderkey",
    )
    iv = li.join(orders, li.ok == orders.o_orderkey).select(
        "sk",
        "ok",
        "ln",
        F.least("od", "sd").alias("s"),
        F.greatest("od", "sd").alias("e"),
    )
    order_keys = [F.col(c) for c in ("s", "e", "ok", "ln")]
    wprev = (
        Window.partitionBy("sk")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("sk")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = iv.withColumn("pe", F.max("e").over(wprev))
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("pe").isNull() | (F.col("s") > F.col("pe")), 1
            ).otherwise(0)
        ).over(wcum),
    )
    g = isl.groupBy("sk", "island").agg(
        F.min("s").alias("is_"),
        F.max("e").alias("ie_"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return (
        g.groupBy("sk")
        .agg(
            F.sum("n_iv").cast("long").alias("n_intervals"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum(F.datediff("ie_", "is_") + 1)
            .cast("long")
            .alias("covered_days"),
        )
        .select(
            F.col("sk").cast("long").alias("suppkey"),
            "n_intervals",
            "n_islands",
            "covered_days",
        )
        .orderBy("suppkey")
        .limit(200)
    )


@register(
    "x150_bfs_reach",
    graph.bfs_copurchase_sql(),
    doc="3-hop breadth-first reachability from the minimum-id node of "
        "the co-purchase graph: per-level first-reached node counts -- "
        "the other canonical Pregel workload next to x104's PageRank "
        "(reachability/components flavor instead of value "
        "propagation). Per hop ONE edge-sized equi-join + distinct + "
        "anti-join vs the visited set; the frontier is never "
        "collected; level counts are 1-row aggregates unioned, so the "
        "result is 4 rows at any graph size. Reuses x104's amortized "
        "bucketed edge table when the bench has persisted it. Oracle "
        "replays the loop as chained NOT-IN CTEs (ops/graph.py "
        "bfs_copurchase_sql)",
)
def x150_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = graph.copurchase_edge_table_name(sf_dir)
    if spark.catalog.tableExists(tbl):
        edges = spark.table(tbl)
    else:
        li = load_table(spark, sf_dir, "lineitem")
        edges = graph.symmetric_copurchase_edges(li)
    return graph.bfs_levels(edges)


@register(
    "x578_dedup_gain_curve",
    f"""WITH RECURSIVE {_X03_PAIRS_CTE},
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
       comp AS (
         SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node
       ),
       toks AS (
         SELECT doc_id,
                CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                  AS n_toks
         FROM documents
       ),
       clus AS (
         SELECT c.rep,
                CAST(count(*) AS BIGINT) AS sz,
                CAST(SUM(t.n_toks) AS BIGINT) AS toks_total,
                CAST(SUM(CASE WHEN c.node = c.rep THEN t.n_toks
                         ELSE 0 END) AS BIGINT) AS toks_kept
         FROM comp c JOIN toks t ON t.doc_id = c.node
         GROUP BY c.rep
       ),
       corpus AS (
         SELECT CAST(SUM(n_toks) AS BIGINT) AS corpus_toks FROM toks
       )
       SELECT clus.sz AS cluster_size,
              CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(SUM(clus.sz - 1) AS BIGINT) AS docs_dropped,
              CAST(SUM(clus.toks_total - clus.toks_kept) AS BIGINT)
                AS tokens_saved,
              ROUND(CAST(SUM(clus.toks_total - clus.toks_kept)
                         AS DOUBLE)
                    / CAST(co.corpus_toks AS DOUBLE), 6)
                AS corpus_token_share
       FROM clus, corpus co
       GROUP BY clus.sz, co.corpus_toks
       ORDER BY clus.sz""",
    doc="dedup GAIN CURVE -- tokens saved as a function of near-dup "
        "cluster size: for each transitive-cluster size s, how many "
        "clusters exist, how many docs a keep-one-representative "
        "dedup drops (s-1 each), how many whitespace tokens that "
        "saves, and the share of total corpus tokens -- the "
        "MARGINAL-value read x120's headline datasheet counts stop "
        "short of (a corpus whose savings sit in a few huge "
        "clusters dedups cheaply; savings spread across millions "
        "of pairs cost a full pair join -- this curve is how a "
        "pipeline decides whether near-dedup pays at all, the "
        "x502 cascade-economics question answered at cluster "
        "grain). Survivor = min doc_id per component (x24's CC "
        "contract). Exactness: sizes and token sums are exact "
        "integers; one double share division. Scale: composes the "
        "x03 blocked pair join + x24 label propagation (edge-set "
        "shuffles only), then a cluster-grain groupBy whose "
        "cardinality is bounded by the cluster count",
)
def x578_dedup_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    comp = dedup.duplicate_clusters(pairs)
    toks = docs.select(
        "doc_id",
        F.size(_toks("text")).cast("long").alias("n_toks"),
    )
    clus = (
        comp.join(toks, comp["node"] == toks["doc_id"])
        .groupBy("rep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.sum("n_toks").cast("long").alias("toks_total"),
            F.sum(
                F.when(
                    F.col("node") == F.col("rep"), F.col("n_toks")
                ).otherwise(0)
            ).cast("long").alias("toks_kept"),
        )
    )
    corpus = toks.agg(
        F.sum("n_toks").cast("long").alias("corpus_toks")
    )
    return (
        clus.crossJoin(F.broadcast(corpus))
        .groupBy(F.col("sz").alias("cluster_size"), "corpus_toks")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.col("sz") - 1).cast("long").alias("docs_dropped"),
            F.sum(F.col("toks_total") - F.col("toks_kept"))
            .cast("long")
            .alias("tokens_saved"),
            F.round(
                F.sum(F.col("toks_total") - F.col("toks_kept"))
                .cast("double")
                / F.first("corpus_toks").cast("double"),
                6,
            ).alias("corpus_token_share"),
        )
        .drop("corpus_toks")
        .orderBy("cluster_size")
    )
