"""Deterministic content-keyed sampling / dataset splitting.

``df.sample()`` draws from a per-task RNG: resampling on retry, changing
under repartitioning, and unreproducible across engines. Training
pipelines need the opposite -- an assignment that is a pure function of
the KEY, so a document lands in the same split on every run, every
engine, every scale. Standard trick: hash the key, threshold the hash.

md5 is the hash because both Spark and DuckDB spell it identically and
its hex output compares lexicographically, so the split is
oracle-verifiable; the first 4 hex chars give 65536 buckets (fraction
resolution ~0.000015), plenty for split ratios.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _toks


def _bucket(key: Column, salt: str) -> Column:
    """First 4 md5 hex chars of 'key:salt' -- uniform over 65536 values."""
    return F.substring(
        F.md5(F.concat(key.cast("string"), F.lit(f":{salt}"))), 1, 4
    )


def _threshold_hex(fraction: float) -> str:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    n = int(round(fraction * 65536))
    if n >= 65536:
        # fraction == 1.0 would format as the 5-char '10000', which sorts
        # BELOW every bucket starting with a hex digit > '0' and silently
        # keeps ~6% of rows. 'zzzz' sorts above every 4-char hex bucket in
        # both engines, so 'bucket < threshold' keeps all rows.
        return "zzzz"
    return format(n, "04x")


def deterministic_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.25,
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Assign each row to 'test' or 'train' as a pure function of its key.

    Stable under retries, repartitioning, and scale changes; different
    ``salt`` values give independent splits (e.g. separate dedup and
    eval holdouts). A narrow projection -- no shuffle, no RNG state.
    """
    thr = _threshold_hex(test_fraction)
    return df.withColumn(
        out,
        F.when(_bucket(F.col(key_col), salt) < thr, "test").otherwise(
            "train"
        ),
    )


STRATIFIED_SALT = "stratified"


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically by key.

    The data-mixing primitive: upsample/downsample sources or languages
    to target rates (e.g. {'en': 0.1, 'fr': 1.0}) while staying a pure
    function of (key, salt) -- reruns, retries, and rescales keep
    exactly the same rows. Strata not listed keep ``default_fraction``.
    A narrow filter: the per-stratum threshold folds into one CASE
    expression, no join, no shuffle, no RNG state.
    """
    bucket = _bucket(F.col(key_col), STRATIFIED_SALT)
    thr = None
    for stratum, frac in sorted(fractions.items()):
        t = F.lit(_threshold_hex(frac))
        thr = (
            F.when(F.col(strata_col) == stratum, t)
            if thr is None
            else thr.when(F.col(strata_col) == stratum, t)
        )
    thr = (
        F.lit(_threshold_hex(default_fraction))
        if thr is None
        else thr.otherwise(F.lit(_threshold_hex(default_fraction)))
    )
    return df.filter(bucket < thr)


BUDGET_SALT = "budget"


def token_budget_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    presample_rate: float | dict[str, float] | None = None,
) -> DataFrame:
    """Keep rows per stratum until a TOKEN budget is met (not a row
    fraction): the data-mixing primitive when mixture targets are token
    counts -- "200B tokens of code, 50B of forums" -- as they are in
    every real pretraining recipe.

    Rows within a stratum are consumed in md5(key:salt) order (a
    deterministic shuffle, so the kept prefix is an unbiased sample,
    stable under retries/rescale), accumulating ``token_col`` with a
    running-sum window; a row survives while the INCLUSIVE cumulative
    sum is within the stratum's budget. One shuffle on the stratum key.
    A stratum with more budget than tokens keeps everything -- budgets
    are caps, not quotas.

    Skew note: one window partition per stratum serializes each
    stratum into one task. Strata are languages/sources (tens, not
    millions), so the fix for a monster stratum at 100 TB is
    ``presample_rate``: a narrow shuffle-FREE rate filter applied
    BEFORE the window, per stratum (a float applies to all strata; a
    dict maps stratum -> rate, unlisted strata keep everything).
    Because the presample keeps exactly the rows whose bucket falls
    below the rate threshold -- i.e. the PREFIX of the same
    md5(key:salt) consumption order the window uses -- the capped
    output is IDENTICAL to the exact version whenever the stratum's
    budget fills within the presampled prefix. Pick a rate with ~2x
    margin (rate >= 2 * budget / stratum_token_total); an undershot
    rate keeps every survivor (fewer tokens than budget) and never
    biases the sample. Verified in tests/test_ops_quality.py with a
    90%-of-rows monster stratum.
    """
    from pyspark.sql.window import Window

    if "cum_tokens" in df.columns:
        raise ValueError(
            "token_budget_sample emits a 'cum_tokens' output column; "
            "rename the input column of that name first"
        )
    bucket = _bucket(F.col(key_col), BUDGET_SALT)
    if presample_rate is not None:
        rates = (
            presample_rate
            if isinstance(presample_rate, dict)
            else {s: float(presample_rate) for s in budgets}
        )
        # same bucket, same salt: the filter keeps the consumption-order
        # prefix, so the window sees rate*|stratum| rows, not |stratum|
        thr = None
        for stratum, rate in sorted(rates.items()):
            t = F.lit(_threshold_hex(rate))
            thr = (
                F.when(F.col(strata_col) == stratum, t)
                if thr is None
                else thr.when(F.col(strata_col) == stratum, t)
            )
        if thr is not None:
            df = df.filter(bucket < thr.otherwise(F.lit(_threshold_hex(1.0))))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(bucket, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cap = None
    for stratum, b in sorted(budgets.items()):
        t = F.lit(int(b))
        cap = (
            F.when(F.col(strata_col) == stratum, t)
            if cap is None
            else cap.when(F.col(strata_col) == stratum, t)
        )
    cap = (
        F.lit(int(default_budget))
        if cap is None
        else cap.otherwise(F.lit(int(default_budget)))
    )
    return (
        df.withColumn(
            "cum_tokens",
            F.sum(F.col(token_col).cast("long")).over(w).cast("long"),
        )
        .filter(F.col("cum_tokens") <= cap)
    )


WEIGHTED_SALT = "weighted"


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Deterministic weighted priority sample: keep the ``n`` rows with
    the smallest ``u / w`` where ``u`` is a 32-bit uniform derived from
    md5(key:salt) and ``w`` the row weight -- higher-weight rows draw
    smaller keys and win proportionally more often (the priority-sample
    analog of the exponential-sort trick, with a DIVISION-ONLY key:
    unlike ln/pow, IEEE division is exactly rounded, so Spark and a SQL
    oracle compute bit-identical priorities from identical inputs).

    Scale shape: a narrow projection plus one TakeOrdered (top-n by
    priority) -- no full sort, no shuffle of the corpus, no RNG state;
    the sample is a pure function of (key, weight, salt) so retries,
    repartitioning, and engine swaps reproduce it exactly. Rows with
    non-positive weight are excluded (they'd divide to +-inf).
    """
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(key_col).cast("string"), F.lit(f":{WEIGHTED_SALT}")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    pri = u / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("priority", F.round(pri, 4))
        .orderBy(pri, F.col(key_col))
        .limit(n)
    )


def weighted_sample_sql(
    source: str,
    key_col: str,
    weight_col: str,
    n: int,
) -> str:
    """The same priority sample as DuckDB SQL (hex->int spelled
    ``CAST(concat('0x', ...) AS BIGINT)``; Spark's spelling is
    ``conv(..., 16, 10)`` -- both yield the same integer, and the
    division-only key keeps the float priorities bit-identical)."""
    u = (
        f"CAST(CAST(concat('0x', substr(md5(concat(CAST({key_col} AS "
        f"VARCHAR), ':{WEIGHTED_SALT}')), 1, 8)) AS BIGINT) AS DOUBLE)"
    )
    return f"""
WITH t AS (
  SELECT {key_col}, {weight_col},
         {u} / CAST({weight_col} AS DOUBLE) AS pri
  FROM {source} WHERE {weight_col} > 0
)
SELECT {key_col}, {weight_col}, ROUND(pri, 4) AS priority
FROM t ORDER BY pri, {key_col} LIMIT {n}
"""


def token_budget_sample_sql(
    source: str,
    key_col: str,
    strata_col: str,
    token_expr: str,
    budgets: dict[str, int],
) -> str:
    """The same token-budget capping as portable SQL (DuckDB oracle).

    ``token_expr`` is the SQL expression for the per-row token count in
    the oracle dialect (e.g. ``len(string_split(lower(text), ' '))``).
    """
    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {int(b)}"
        for s, b in sorted(budgets.items())
    )
    case = f"CASE {whens} ELSE 1000 END"
    return f"""
WITH t AS (
  SELECT {key_col}, {strata_col},
         CAST({token_expr} AS BIGINT) AS n_toks,
         substr(md5(concat(CAST({key_col} AS VARCHAR), ':{BUDGET_SALT}')), 1, 4)
             AS b
  FROM {source}
), c AS (
  SELECT {key_col}, {strata_col}, n_toks,
         CAST(SUM(n_toks) OVER (PARTITION BY {strata_col}
                                ORDER BY b, {key_col}
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens
  FROM t
)
SELECT {key_col}, {strata_col}, n_toks, cum_tokens FROM c
WHERE cum_tokens <= {case}
ORDER BY {key_col}
"""


def stratified_sample_sql(
    dialect: str,
    source: str,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> str:
    """The same per-stratum thresholding as SQL text (common dialect)."""
    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN '{_threshold_hex(f)}'"
        for s, f in sorted(fractions.items())
    )
    case = f"CASE {whens} ELSE '{_threshold_hex(default_fraction)}' END"
    return (
        f"SELECT * FROM {source} WHERE substr(md5(concat(CAST({key_col} "
        f"AS VARCHAR), ':{STRATIFIED_SALT}')), 1, 4) < {case}"
    )


def split_sql(dialect: str, source: str, key_col: str) -> str:
    """The same assignment as SQL text; 'spark' and 'duckdb' differ only
    in the substring function name (md5/concat/casts are common)."""
    substr = {"spark": "substr", "duckdb": "substr"}[dialect]
    thr = _threshold_hex(0.25)
    return (
        f"SELECT {key_col}, CASE WHEN {substr}(md5(concat(CAST({key_col} "
        f"AS VARCHAR), ':split')), 1, 4) < '{thr}' THEN 'test' ELSE "
        f"'train' END AS split FROM {source} ORDER BY {key_col}"
    )


CAP_SALT = "cap"


def per_group_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    n: int,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically: the
    anti-domination guard every curation run applies per domain/source
    ("no single crawl host contributes more than N documents").
    Survivors are the first ``n`` rows of the group in md5(key:salt)
    order -- an unbiased within-group sample that is a pure function of
    (key, salt), so retries, repartitioning, and engine swaps keep
    exactly the same rows; different salts give independent draws.

    Output: the input columns plus ``cap_rank`` (1-based position in
    the group's md5 order, <= n).

    Scale shape: one shuffle on the group key; row_number windows run
    per group in PARALLEL (group count is domain-cardinality -- there
    is no global sort and no SinglePartition exchange). A group hot
    enough to bottleneck its one window task (a monster domain) should
    be pre-thinned with ``stratified_sample``/``presample_rate`` --
    same md5-prefix trick ``token_budget_sample`` documents.
    """
    from pyspark.sql.window import Window

    if "cap_rank" in df.columns:
        raise ValueError(
            "per_group_cap emits a 'cap_rank' output column; rename "
            "the input column of that name first"
        )
    order_key = F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit(f":{CAP_SALT}"))
    )
    w = Window.partitionBy(group_col).orderBy(order_key, F.col(key_col))
    return (
        df.withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cap_rank") <= n)
    )


def per_group_cap_sql(
    source: str,
    key_col: str,
    group_col: str,
    n: int,
) -> str:
    """The same per-group cap as DuckDB SQL (shard_shuffle's pattern)."""
    return f"""
WITH t AS (
  SELECT *,
         CAST(row_number() OVER (
           PARTITION BY {group_col}
           ORDER BY md5(concat(CAST({key_col} AS VARCHAR), ':{CAP_SALT}')),
                    {key_col}
         ) AS BIGINT) AS cap_rank
  FROM {source}
)
SELECT * FROM t WHERE cap_rank <= {n}
"""


SHUFFLE_SALT = "shuffle"


def shard_shuffle(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets
    (shard, pos) where ``shard`` is an md5 bucket of the key and ``pos``
    the row's rank within its shard by a SECOND independent md5 -- the
    "shuffle the corpus before sharding" step every pre-training run
    performs, as a pure function of (key, salt): retries, rescale, and
    engine swaps reproduce the exact same global order
    (shard * huge + pos), with no RNG state anywhere.

    Scale shape: shard assignment is narrow; ranking is one shuffle on
    the shard key with ``n_shards`` window partitions running in
    parallel -- no single global sort, no driver involvement. Shards
    are md5-uniform so the windows are balanced by construction.
    """
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(key_col).cast("string"),
                        F.lit(f":{SHUFFLE_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    ).cast("int")
    order_key = F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit(f":{SHUFFLE_SALT}:ord"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy(order_key, F.col(key_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def shard_shuffle_sql(source: str, key_col: str, n_shards: int) -> str:
    """The same shard shuffle as DuckDB SQL."""
    return f"""
WITH t AS (
  SELECT {key_col},
         CAST(CAST(concat('0x', substr(md5(concat(CAST({key_col} AS
              VARCHAR), ':{SHUFFLE_SALT}')), 1, 8)) AS BIGINT) % {n_shards}
              AS INT) AS shard,
         md5(concat(CAST({key_col} AS VARCHAR), ':{SHUFFLE_SALT}:ord')) AS ord
  FROM {source}
)
SELECT {key_col}, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY ord, {key_col}) AS BIGINT) AS pos
FROM t ORDER BY {key_col}
"""


MIXTURE_SCALE = 1_000_000


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    text_col: str,
) -> DataFrame:
    """Temperature-scaled mixture schedule at T=2 (alpha = 1/2): per
    stratum, the resampled token share w_i = sqrt(n_i) / sum_j sqrt(n_j)
    and the sampling factor w_i / s_i a mixer applies -- the standard
    upweight-the-tail schedule for multilingual / multi-source training
    (p_i proportional to s_i^alpha). alpha = 1/2 specifically because
    IEEE sqrt is correctly rounded in every engine while pow() is not,
    keeping this entry oracle-hash-exact; other alphas swap in pow at
    the cost of the hashed tier. sqrt values are floor-scaled to
    integers (x ``MIXTURE_SCALE``) before summing so the denominator is an
    exact integer sum, order-independent under Spark's nondeterministic
    shuffle order.

    Output: (stratum, n_tokens, token_share, temp_share, sample_factor).

    Scale shape: one hash-groupBy over the corpus; the denominators ride
    a broadcast 1-row aggregate -- same plan family as x38's mixture
    report (ops/text.py source_mix_stats).
    """
    n_toks = F.size(_toks(text_col)).cast("long")
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(n_toks).cast("long").alias("n_tokens"),
    )
    q = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * MIXTURE_SCALE).cast(
        "long"
    )
    per = per.withColumn("q", q)
    totals = per.agg(
        F.sum("n_tokens").cast("double").alias("__total_tokens"),
        F.sum("q").cast("double").alias("__total_q"),
    )
    share = F.col("n_tokens") / F.col("__total_tokens")
    temp_share = F.col("q") / F.col("__total_q")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "stratum",
            "n_tokens",
            F.round(share, 4).alias("token_share"),
            F.round(temp_share, 4).alias("temp_share"),
            F.round(temp_share / share, 4).alias("sample_factor"),
        )
    )


def temperature_mixture_sql() -> str:
    """DuckDB SQL mirroring ``temperature_mixture``."""
    return f"""
WITH per AS (
  SELECT source AS stratum,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY 1
), q AS (
  SELECT stratum, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * {MIXTURE_SCALE}) AS BIGINT)
             AS q
  FROM per
), tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
         CAST(SUM(q) AS DOUBLE) AS total_q
  FROM q
)
SELECT stratum, n_tokens,
       ROUND(n_tokens / total_tokens, 4) AS token_share,
       ROUND(q / total_q, 4) AS temp_share,
       ROUND((q / total_q) / (n_tokens / total_tokens), 4)
           AS sample_factor
FROM q, tot ORDER BY stratum
"""
