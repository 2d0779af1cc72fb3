"""Deduplication operators over a (id, text) corpus.

Scale design notes (the part that matters at 100 TB):

- ``exact_dedup`` / ``fingerprint_dedup``: one hash-groupBy. Spark runs it
  as partial (map-side) + final aggregation, so the shuffle carries one row
  per distinct hash per partition, not one per input row. The group key is
  a 128-bit md5, so skew is impossible unless the corpus itself is
  pathologically duplicated -- exactly the case AQE skew handling covers.
- ``ngram_jaccard_pairs``: never enumerates O(n^2) pairs. Documents are
  exploded to distinct shingles, candidate pairs come from a self-equi-join
  on the shingle (i.e. blocking), and Jaccard is computed from group
  counts. The join key (shingle) is the only shuffle key; a stop-shingle
  cap (``max_docs_per_shingle``) drops degenerate blocks that would
  otherwise quadratically explode -- the standard guard in web-scale dedup.
- ``minhash_lsh_pairs``: pyspark.ml MinHashLSH -- signature generation is a
  narrow map; approxSimilarityJoin hash-partitions by band bucket, the
  canonical sub-quadratic near-dup join.
- ``simhash``: 64-bit sign-of-sum over token hashes; a pure expression
  pipeline (explode -> 64 conditional sums -> concat), all JVM-side.

Reference anchor: the reference has no dedup surface at all (SURVEY.md
section 2.1 end); these are the north-star extensions from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scale import pairs_within, rebalanced
from .text import _toks


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts; keep the smallest id as the survivor.

    Returns one row per distinct text, case-folded: (h, keep_id,
    dup_cnt).
    """
    return (
        df.groupBy(F.md5(F.lower(F.col(text_col))).alias("h"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Key-collision fingerprint dedup (sorted distinct token bag).

    Catches reorderings/repeats that defeat exact hashing; still a single
    hash-groupBy, so the cost profile is identical to exact dedup.
    """
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(_toks(text_col))), " "
        )
    ).alias("fingerprint")
    return df.groupBy(fp).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt")
    )


SHINGLE_K = 3


def shingle_arrays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document distinct ``SHINGLE_K``-token shingle ARRAYS -> (doc,
    sh); shorter docs are dropped. The array form feeds both the exploded
    postings (``shingles``) and the minhash signatures
    (``minhash_banded_pairs``), which fold over the array without
    exploding it."""
    toks_df = rebalanced(df).select(
        F.col(id_col).alias("doc"), _toks(text_col).alias("toks")
    )
    toks = F.col("toks")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SHINGLE_K),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(SHINGLE_K)]
            ),
        )
    )
    return toks_df.filter(F.size(toks) >= SHINGLE_K).select(
        "doc", sh.alias("sh")
    )


def shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct k-token shingles per document -> (id, shingle), plus the
    per-document shingle count as ``n_sh`` (needed for Jaccard).

    The token array is bound as a real attribute in its own projection
    BEFORE the higher-order transform: expressions inside a lambda are
    re-evaluated per element and never subexpression-eliminated, so an
    inlined split() would re-tokenize the document once per shingle
    position (measured 8 s -> 0.3 s at sf0.1 for 260k shingles).
    """
    # explode_outer, NOT explode: for inner generates the optimizer infers
    # a size(sh) > 0 filter and pushes it below the repartition, inlining
    # the whole shingle expression into a pre-shuffle filter that runs on
    # the raw (possibly single-partition) input. The size(toks) >=
    # SHINGLE_K guard already makes the array non-empty, so outer ==
    # inner here.
    return shingle_arrays(df, id_col, text_col).select(
        "doc",
        F.size("sh").alias("n_sh"),
        F.explode_outer("sh").alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by k-gram shingle Jaccard, via shingle blocking.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
    jaccard rounded to 4 decimals. Only pairs sharing >= 1 shingle are ever
    formed; ``MAX_DOCS_PER_SHINGLE`` drops stop-shingles whose blocks would
    explode quadratically.

    One wide shuffle: groupBy(shingle) collects each block's (doc, n_sh)
    postings, then pairs expand INSIDE the bucket with higher-order
    functions (array_sort gives id_a < id_b for free). A self-equi-join
    formulation shuffles the posting list twice and needs a separate
    hot-shingle aggregation pass; here the cap is a free size(ds) filter
    on the already-grouped row (12.5 s -> ~4 s at sf0.1).
    """
    return score_pair_counts_jaccard(
        shingle_pair_counts(df, id_col, text_col),
        threshold,
    )


MAX_DOCS_PER_SHINGLE = 1000


def shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The UNSCORED shingle-blocked pair stage every set-overlap
    near-dup measure shares: (id_a, id_b, n_a, n_b, inter) for every
    doc pair sharing >= 1 k-shingle, id_a < id_b. ``ngram_jaccard_pairs``
    divides by the union, ``score_pair_counts_containment`` by the min -- the
    expensive part (shingles -> postings groupBy -> in-bucket HOF pair
    expansion -> pair-count groupBy) is identical, so callers running
    several measures derive this once (the registry caches and
    localCheckpoints it per (table, k))."""
    sh = shingles(df, id_col, text_col)
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc", "n_sh")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .filter(F.size("ds") <= MAX_DOCS_PER_SHINGLE)
    )
    ds = F.array_sort(F.col("ds"))  # sorts by first struct field = doc id
    pair = lambda x, y: F.struct(  # noqa: E731
        x["doc"].alias("id_a"),
        x["n_sh"].alias("n_a"),
        y["doc"].alias("id_b"),
        y["n_sh"].alias("n_b"),
    )
    pairs = buckets.select(
        F.explode(pairs_within(ds, pair)).alias("p")
    ).select("p.*")
    return pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("inter")
    )


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Benchmark-contamination scores: for each document, the fraction of
    its distinct k-gram shingles that also occur anywhere in ``benchmark``
    (the eval/test set). Decontamination = drop rows above a threshold
    before training.

    Output: (doc, n_sh, n_overlap, contamination) for every document with
    >= k tokens; contamination = round(n_overlap / n_sh, 4).

    Scale shape: the benchmark side is small by contract (eval sets are
    MBs against a 100 TB corpus), so its distinct shingle set rides a
    broadcast hash join -- the corpus side is one shingle explode + one
    groupBy(doc), never shuffled on the shingle, and the benchmark is
    never collected to the driver.
    """
    doc_sh = shingles(df, id_col, text_col)
    bench_sh = (
        shingles(benchmark, id_col, text_col)
        .select("shingle")
        .distinct()
    )
    overlap = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    per_doc = doc_sh.select("doc", "n_sh").distinct()
    return (
        per_doc.join(overlap, "doc", "left")
        .withColumn(
            "n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_overlap") / F.col("n_sh"), 4),
        )
        .select("doc", "n_sh", "n_overlap", "contamination")
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash+LSH near-dup pairs via pyspark.ml (banded signature join).

    Features are k-token shingles (not bare tokens: with a small shared
    vocabulary, token-set Jaccard saturates and every pair looks like a
    dup; shingles preserve order/locality and align with
    ngram_jaccard_pairs). Output: (id_a, id_b, dist) with id_a < id_b and
    Jaccard *distance* over the hashed shingle sets <= threshold. Not
    oracle-hashable (MinHash is approximate) -- tests validate against
    exact Jaccard.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    docs = rebalanced(df).select(
        F.col(id_col).alias("mh_id"), F.col(text_col).alias("mh_text")
    )
    tok = Tokenizer(inputCol="mh_text", outputCol="mh_toks")
    ng = NGram(n=3, inputCol="mh_toks", outputCol="mh_shingles")
    tf = HashingTF(
        inputCol="mh_shingles",
        outputCol="mh_vec",
        numFeatures=1 << 18,
        binary=True,
    )
    feats = tf.transform(ng.transform(tok.transform(docs))).filter(
        # MinHashLSH requires at least one non-zero entry
        F.size("mh_shingles") > 0
    )
    mh = MinHashLSH(
        inputCol="mh_vec", outputCol="mh_sig", numHashTables=8, seed=42
    )
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="dist")
    return (
        pairs.select(
            F.col("datasetA.mh_id").alias("id_a"),
            F.col("datasetB.mh_id").alias("id_b"),
            F.round("dist", 4).alias("dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
# nibble values with bit j (of 4, MSB-first) set -- precomputed so the SQL
# needs only IN-lists, portable across Spark SQL and DuckDB.
_NIBBLE_BIT_SETS = [
    tuple(v for v in range(16) if (v >> (3 - j)) & 1) for j in range(4)
]


def simhash_sql(dialect: str, source: str = "documents") -> str:
    """64-bit SimHash as one SQL string, generated for ``dialect`` in
    {'spark', 'duckdb'}.

    Per document: distinct tokens -> md5 -> 64 bit-contribution sums
    (+1/-1) -> sign per bit -> 64-char bitstring. The two dialects differ
    only in tokenize/explode/position spellings; everything else (md5,
    substr, CASE, SUM, concat) is common SQL, which is what makes the
    DuckDB oracle possible.
    """
    if dialect == "spark":
        explode = (
            "SELECT doc_id, explode(array_distinct(split(lower(text), ' '))) AS tok"
            f" FROM {source}"
        )
        pos = "instr"
    elif dialect == "duckdb":
        explode = (
            "SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok"
            f" FROM {source}"
        )
        pos = "strpos"
    else:  # pragma: no cover
        raise ValueError(dialect)

    sums = []
    bits = []
    for b in range(64):
        hexpos = b // 4 + 1  # 1-based hex char of the md5 digest
        inlist = ", ".join(str(v) for v in _NIBBLE_BIT_SETS[b % 4])
        nib = f"({pos}('{_HEX}', substr(md5(tok), {hexpos}, 1)) - 1)"
        sums.append(
            f"SUM(CASE WHEN {nib} IN ({inlist}) THEN 1 ELSE -1 END) AS s{b}"
        )
        bits.append(f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END")
    concat_bits = "concat(" + ", ".join(bits) + ")"
    return (
        f"SELECT doc_id, {concat_bits} AS simhash FROM ("
        f"SELECT doc_id, {', '.join(sums)} FROM ({explode}) GROUP BY doc_id"
        f") ORDER BY doc_id"
    )


def simhash(df: DataFrame) -> DataFrame:
    """DataFrame wrapper: registers ``df`` and runs the Spark-dialect SQL."""
    spark = df.sparkSession
    view = "__simhash_input"
    # rebalance the (possibly single-split) input so the token explode
    # + 64 bit-contribution sums run on the core budget, not one task
    rebalanced(
        df.select("doc_id", "text")
    ).createOrReplaceTempView(view)
    return spark.sql(simhash_sql("spark", source=view))


SIMHASH_BAND_BITS = 16
SIMHASH_MAX_DOCS_PER_BAND = 500
SIMHASH_MAX_HAMMING = 3


def simhash_hamming_pairs(
    sim_df: DataFrame,
    max_docs_per_band: int | None = SIMHASH_MAX_DOCS_PER_BAND,
) -> DataFrame:
    """Near-dup candidates from 64-bit simhash bitstrings.

    Banding: with 4 bands of 16 bits, any pair within Hamming distance 3
    shares at least one whole band (pigeonhole), so candidates come from 4
    equi-joins on band substrings -- never a cross join. Hamming is
    computed on packed 32-bit halves via XOR + bit_count (JVM integer ops;
    the string zip_with variant measured 25 s at sf0.1, this is <2 s).
    ``max_docs_per_band`` drops degenerate band values whose buckets would
    blow up quadratically (clustered corpora produce near-constant
    simhashes -- the guard keeps candidate generation linear-ish).
    Output: (id_a, id_b, hamming) with hamming <= max_hamming.
    """
    n_bands = 64 // SIMHASH_BAND_BITS
    # checkpoint the packed signatures ONCE: both sides of the band
    # self-join (and the hot-band guard) consume this frame, and without
    # it each consumer re-runs the full simhash derivation (explode +
    # 64 bit sums + groupBy -- measured as two duplicate map stages)
    packed = sim_df.select(
        "doc_id",
        "simhash",
        F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long").alias("hi"),
        F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long").alias("lo"),
    ).localCheckpoint(eager=False)
    banded = packed.select(
        "doc_id",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.substring(
                            "simhash",
                            i * SIMHASH_BAND_BITS + 1,
                            SIMHASH_BAND_BITS,
                        ),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    if max_docs_per_band is not None:
        hot = (
            banded.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_docs_per_band)
            .select("band")
        )
        banded = banded.join(F.broadcast(hot), "band", "left_anti")
    a = banded.select(
        F.col("doc_id").alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
        "band",
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
        "band",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    # hamming filter BEFORE the pair dedup: XOR+bit_count is map-side
    # (no shuffle), so rejecting far pairs first means the distinct
    # shuffle carries only qualifying pairs, not every band collision
    return (
        a.join(b, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_clusters(
    pairs: DataFrame,
    small_graph_edges: int | None = 1_000_000,
) -> DataFrame:
    """Transitive duplicate clusters from near-dup pairs: (node, rep).

    ``rep`` is the minimum id in the node's connected component, so
    keeping rows where node == rep deduplicates transitively -- the
    semantics greedy per-pair dropping gets wrong (dropping b of (a,b)
    and (b,c) leaves a and c both alive even though a~b~c).

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(cluster
    diameter) rounds (near-dup clusters are shallow -- star-like around
    a template -- so this is 2-4 rounds in practice; the O(log n)
    large-star/small-star variant only pays off on deep chain graphs).
    Per round: one equi-join on the label table + one min-groupBy, both
    shuffling only the EDGE set -- no row of the corpus itself moves.
    localCheckpoint truncates the per-iteration lineage so plans don't
    grow with the round count. Convergence: labels only ever decrease,
    so the label table is a fixed point iff sum(rep) is unchanged -- a
    scalar aggregate over the just-checkpointed table (partial+final,
    no shuffle join). DECIMAL(38,0) keeps the sum exact at any scale.

    Adaptive small-graph fast path (the AQE posture applied to CC): the
    near-dup EDGE set is orders of magnitude smaller than the corpus --
    after thresholding it is typically thousands of edges even when the
    corpus is billions of rows. When it fits the same size contract as
    any broadcast (``small_graph_edges``, default 1M edges), a driver
    union-find replaces the iterative rounds: one collect of the edge
    list instead of O(diameter) join+agg+probe jobs, with BIT-IDENTICAL
    output (min id per component either way). Larger graphs take the
    distributed rounds unchanged. Pass ``small_graph_edges=None`` to
    force the distributed path.

    Returns one row per node that appears in any pair.
    """
    # symmetrize via explode, not union-of-two-selects: a union evaluates
    # the (possibly expensive) pairs DAG once per branch before the
    # checkpoint materializes it. (On an idle local cluster the union's
    # two branches run concurrently and edge out explode on wall-clock,
    # but at scale doubling the shingle-shuffle work is the wrong trade.)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("u"), F.col("id_b").alias("v")
                    ),
                    F.struct(
                        F.col("id_b").alias("u"), F.col("id_a").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
        .localCheckpoint()
    )
    if (
        small_graph_edges is not None
        and edges.count() <= small_graph_edges
    ):
        # driver union-find over the (small-by-contract) edge list
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edges.collect():
            u, v = row.u, row.v
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        members: dict = {}
        for node in parent:
            members.setdefault(find(node), []).append(node)
        out = [
            (node, min(group))
            for group in members.values()
            for node in group
        ]
        id_type = edges.schema["u"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", id_type, False),
                StructField("rep", id_type, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)

    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("rep")
    )

    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(
        labels.schema["rep"].dataType, NumericType
    )

    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("rep").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = None
    for _ in range(25):
        neighbor = edges.join(
            labels, edges["v"] == labels["node"]
        ).select(F.col("u").alias("node"), "rep")
        new_labels = (
            labels.union(neighbor)
            .groupBy("node")
            .agg(F.min("rep").alias("rep"))
            .localCheckpoint()
        )
        if numeric_ids:
            cur_sum = _label_sum(new_labels)
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            # non-numeric ids have no exact monotone scalar: fall back
            # to an any-change existence probe (one join, limit 1)
            changed = (
                new_labels.join(
                    labels.withColumnRenamed("rep", "old_rep"), "node"
                )
                .filter(F.col("rep") != F.col("old_rep"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    return labels


def det_band_keys(sh):
    """Deterministic LSH band keys over a shingle-array column: 8
    md5-sliced minhash components (2 md5 evaluations per shingle, four
    8-hex slices each) paired into 4 bands of width 2. Shared by
    ``minhash_banded_pairs`` (within-corpus pairs) and the persistent
    cross-batch near-dup index (``ops/incremental.py``) -- both sides
    of an incremental probe MUST hash identically, so this is the one
    definition. Returns an ``array<string>`` of 4 band keys."""

    # a closure factory, not default-arg binding: pyspark reads the
    # lambda's parameter count to pick the HOF arity, so extra bound
    # params would be mistaken for (element, index, ...) arguments
    def _sliced_hash(salt: int, off: int):
        return lambda s: F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), s)), off, 8
        )

    sigs = [
        F.array_min(F.transform(sh, _sliced_hash(salt, off)))
        for salt in (0, 1)
        for off in (1, 9, 17, 25)
    ]
    return F.array(
        *[F.concat(sigs[2 * b], sigs[2 * b + 1]) for b in range(4)]
    )


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs_per_band: int | None = 1000,
) -> DataFrame:
    """Deterministic MinHash-LSH candidate pairs, oracle-verifiable.

    Unlike ``minhash_lsh_pairs`` (pyspark.ml, engine-private hash
    seeds, rows-only checkable), every hash here is md5-derived, so a
    SQL oracle reproduces the EXACT pair set: 8 minhash components come
    from 2 md5 evaluations per shingle (each 32-hex digest yields four
    independent 8-hex slices -- 4x fewer hashes than one md5 per
    component), components pair into 4 bands of width 2, and candidates
    are documents sharing at least one band.

    Output: (id_a, id_b, n_shared_bands) with id_a < id_b. Banding
    math: P(pair surfaces) = 1 - (1 - j^2)^4 for true Jaccard j --
    ~0.93 at j=0.7, ~0.31 at j=0.3 -- the classic LSH S-curve; feed the
    survivors to an exact Jaccard pass for a verified threshold.

    Scale shape: signatures are a narrow fold over the per-doc shingle
    array (no explode of the corpus, no Python); the only shuffle is
    groupBy(band_id, band_key), pairs expand inside each bucket with
    the same sorted-array HOF as ``ngram_jaccard_pairs``, and
    ``max_docs_per_band`` caps degenerate bands.
    """
    return _banded_pairs_from_arrays(
        shingle_arrays(df, id_col, text_col), max_docs_per_band
    )


def _banded_pairs_from_arrays(
    arrs: DataFrame, max_docs_per_band: int | None = 1000
) -> DataFrame:
    """``minhash_banded_pairs`` over a precomputed (doc, sh) shingle-
    array frame -- callers that also need the arrays for an exact
    verify pass (``lsh_verified_pairs``) derive them ONCE and share."""
    bands = det_band_keys(F.col("sh"))
    banded = arrs.select(
        "doc", F.posexplode(bands).alias("band_id", "band_key")
    )
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_docs_per_band is not None:
        buckets = buckets.filter(F.size("ds") <= max_docs_per_band)
    ds = F.array_sort(F.col("ds"))
    pairs = buckets.select(
        F.explode(
            pairs_within(
                ds, lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_bands")
    )


def minhash_banded_pairs_oracle_sql(source: str = "documents") -> str:
    """DuckDB SQL mirroring ``minhash_banded_pairs`` exactly (same md5
    slices, same bands), with the 3-token shingles spelled out below."""
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{salt}:' || s), "
        f"{off}, 8))) AS s{4 * salt + i}"
        for salt in (0, 1)
        for i, off in enumerate((1, 9, 17, 25))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc, {b} AS band_id, s{2 * b} || s{2 * b + 1} AS band_key "
        "FROM sg"
        for b in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS doc,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM {source}
  WHERE len(string_split(lower(text), ' ')) >= 3
), sg AS (
  SELECT doc, {sig_cols} FROM t
), b AS (
  {band_rows}
)
SELECT a.doc AS id_a, b2.doc AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM b a JOIN b b2 USING (band_id, band_key)
WHERE a.doc < b2.doc
GROUP BY 1, 2
ORDER BY id_a, id_b
"""

def simhash_pairs_oracle_sql() -> str:
    """DuckDB SQL mirroring ``simhash_hamming_pairs`` over
    ``simhash_sql``'s output -- the banded candidates AND the Hamming
    filter are plain SQL (band substrings self-joined, Hamming counted
    per bit position), so x06's full pair set is oracle-verifiable.
    The hot-band cap IS mirrored (same default as the Spark side):
    round 4's "assumed un-hit" shortcut broke at sf0.1, where natural
    band values exceed 500 docs and the engines diverged by 16k pairs.
    """
    n_bands = 64 // SIMHASH_BAND_BITS
    inner = simhash_sql("duckdb", source="documents")
    inner = inner.rsplit("ORDER BY doc_id", 1)[0]
    bands = ", ".join(
        f"'{i}:' || substr(simhash, {i * SIMHASH_BAND_BITS + 1}, "
        f"{SIMHASH_BAND_BITS})"
        for i in range(n_bands)
    )
    ham = (
        "CAST(len(list_filter(range(1, 65), "
        "i -> substr(sa, i, 1) != substr(sb, i, 1))) AS INT)"
    )
    cap = f"""
bandf AS (
  SELECT * FROM band WHERE band NOT IN (
    SELECT band FROM band GROUP BY band
    HAVING count(*) > {SIMHASH_MAX_DOCS_PER_BAND}
  )
),"""
    return f"""
WITH sim AS ({inner}),
band AS (
  SELECT doc_id, simhash, unnest([{bands}]) AS band FROM sim
),{cap}
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bandf a JOIN bandf b USING (band)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, {ham} AS hamming
FROM cand
WHERE {ham} <= {SIMHASH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


def score_pair_counts_jaccard(
    counts: DataFrame, threshold: float
) -> DataFrame:
    """Jaccard scoring over a pre-derived ``shingle_pair_counts`` frame
    (pairs-sized, trivial) -- the reuse hook for callers holding a
    cached/checkpointed counts frame."""
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        counts.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def score_pair_counts_containment(
    counts: DataFrame, threshold: float
) -> DataFrame:
    """Containment scoring over a pre-derived ``shingle_pair_counts``
    frame (see ``score_pair_counts_jaccard``)."""
    cont = F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        counts.withColumn("containment", F.round(cont, 4))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


SPAN_K = 5


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = SPAN_K
) -> DataFrame:
    """Exact duplicate-SPAN detection (substring-dedup signal).

    Marks every token position covered by a k-token window whose exact
    text occurs >= 2 times anywhere in the corpus (within-doc repeats
    count) -- the per-document fraction of duplicated span mass, the
    signal behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", which removes 50-token
    substrings occurring twice; k is configurable).

    Output: (doc_id, n_tokens, dup_tokens, dup_frac), one row per input
    document (short docs with < k tokens report 0 / 0.0).

    Scale shape: POSITIONAL windows (not distinct shingles) are exploded
    once (linear, factor ~n_tokens); duplicate detection is a hash-
    groupBy on the md5 of the window text followed by a LEFT SEMI join
    of the window stream against the >=2 hashes -- deliberately NOT an
    analytic count() OVER (PARTITION BY h): a window function cannot
    partial-aggregate and pins every instance of a hot stop-phrase
    5-gram into one shuffle partition, while the groupBy combines
    map-side and the semi-join's skew is AQE-splittable. Surviving
    spans explode to their k positions (factor k, linear), and coverage
    is one countDistinct per doc. No pairwise anything: cost is
    O(total_tokens * k), the same family as the shingle-blocked passes.
    The reference has no dedup surface at all (SURVEY.md section 2.4).
    """
    toks_df = rebalanced(df).select(
        F.col(id_col).alias("doc"), _toks(text_col).alias("toks")
    )
    base = toks_df.select("doc", F.size("toks").alias("n_tokens"))
    toks = F.col("toks")
    wins = (
        toks_df.filter(F.size(toks) >= k)
        .select(
            "doc",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            *[F.element_at(toks, i + j + 1) for j in range(k)],
                        )
                    ),
                )
            ).alias("start", "h"),
        )
    )
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    dup = wins.join(dup_hashes, "h", "left_semi")
    covered = (
        dup.select(
            "doc",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (k - 1))
            ).alias("pos"),
        )
        .groupBy("doc")
        .agg(F.count_distinct("pos").alias("dup_tokens"))
    )
    frac = F.col("dup_tokens") / F.col("n_tokens")
    return (
        base.join(covered, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.round(
                F.coalesce(frac, F.lit(0.0)).cast("double"), 4
            ).alias("dup_frac"),
        )
    )

def duplicate_spans_oracle_sql() -> str:
    """DuckDB SQL mirroring ``duplicate_spans`` (1-based positions; only
    counts are exposed, so the index base is irrelevant)."""
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens FROM t
), w AS (
  SELECT doc_id, unnest(range(1, len(toks) - {SPAN_K} + 2)) AS start, toks
  FROM t WHERE len(toks) >= {SPAN_K}
), w2 AS (
  SELECT doc_id, start,
         array_to_string(toks[start:start + {SPAN_K} - 1], ' ') AS win
  FROM w
), d AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, start, count(*) OVER (PARTITION BY win) AS cnt
    FROM w2
  ) WHERE cnt >= 2
), p AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(range(start, start + {SPAN_K})) AS pos FROM d
  )
), c AS (
  SELECT doc_id, count(*) AS dup_tokens FROM p GROUP BY 1
)
SELECT base.doc_id, base.n_tokens,
       CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / base.n_tokens, 4)
           AS dup_frac
FROM base LEFT JOIN c USING (doc_id)
ORDER BY base.doc_id
"""


def dup_rate_by_group(
    df: DataFrame, group_col: str, id_col: str, text_col: str
) -> DataFrame:
    """Duplication rate per group (source/domain/crawl): docs, distinct
    content hashes, and the dup rate 1 - distinct/docs -- the triage
    table that says WHICH feed is flooding the corpus with duplicates
    (and therefore where to point the heavier near-dup passes).

    Scale shape: one groupBy(group) with an exact count-distinct on the
    content hash (two-phase partial agg); no joins, one scan.
    """
    h = F.md5(F.lower(F.col(text_col)))
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct(h).cast("long").alias("n_distinct"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_docs"), 4
            ).alias("dup_rate"),
        )
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """The complete LSH-then-verify near-dup pipeline in one operator:
    deterministic MinHash banding proposes candidates (sub-quadratic,
    ``minhash_banded_pairs``), then each candidate is rescored with its
    EXACT Jaccard via per-pair shingle-array intersection -- the
    "feed the survivors to an exact pass" step x40's docstring promises,
    materialized.

    Output: (id_a, id_b, n_shared_bands, jaccard), jaccard >= threshold.

    Scale shape: candidates stay band-blocked (never all-pairs); the
    verify step joins the candidate list (pairs-sized) to the per-doc
    shingle arrays twice (two equi-joins on doc id) and intersects
    arrays per pair -- no explode, no shuffle of postings. False
    positives from banding die here; false negatives are bounded by the
    LSH S-curve (1-(1-j^2)^4), measured in tests.
    """
    # NOTE (r13, measured): checkpointing the shingle arrays so the
    # banding + both verify sides share ONE derivation was TRIED and
    # reverted -- the arrays are ~3x the text volume, and writing them
    # to the block store cost more than the two extra (fully parallel)
    # derivations it saved (cold medians 4.4 s -> 5.1 s at sf0.1).
    arrs = shingle_arrays(df, id_col, text_col)
    cand = _banded_pairs_from_arrays(arrs)
    a = arrs.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = arrs.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 4)
    return (
        joined.select(
            "id_a", "id_b", "n_shared_bands", jac.alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_verified_pairs_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB SQL mirroring ``lsh_verified_pairs`` (x40's banding CTEs
    plus a list_intersect verify join; k fixed at 3).

    The candidate CTE carries NO hot-band cap, while the Spark side
    applies ``minhash_banded_pairs``' default ``max_docs_per_band=1000``
    -- the two agree only while no band bucket exceeds the cap, which
    holds on every fixture (max observed bucket is far below 1000). A
    fixture with a degenerate band would need the cap mirrored here.
    """
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{salt}:' || s), "
        f"{off}, 8))) AS s{4 * salt + i}"
        for salt in (0, 1)
        for i, off in enumerate((1, 9, 17, 25))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc, {b} AS band_id, s{2 * b} || s{2 * b + 1} AS band_key "
        "FROM sg"
        for b in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS doc,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
), sg AS (
  SELECT doc, {sig_cols} FROM t
), b AS (
  {band_rows}
), cand AS (
  SELECT a.doc AS id_a, b2.doc AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM b a JOIN b b2 USING (band_id, band_key)
  WHERE a.doc < b2.doc
  GROUP BY 1, 2
), scored AS (
  SELECT c.id_a, c.id_b, c.n_shared_bands,
         ROUND(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
               (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh,
                tb.sh))), 4) AS jaccard
  FROM cand c
  JOIN t ta ON ta.doc = c.id_a
  JOIN t tb ON tb.doc = c.id_b
)
SELECT id_a, id_b, n_shared_bands, jaccard
FROM scored WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


def source_shingle_overlap(
    df: DataFrame,
    source_col: str,
    text_col: str,
) -> DataFrame:
    """Source-level shingle-set Jaccard matrix: for every pair of
    sources, the overlap of their DISTINCT k-token shingle sets. Two
    near-identical sources are a mirror/syndication feed to collapse
    before mixing weights are set -- the corpus-level complement of
    x70's per-document cross-source pairs.

    Output: (src_a, src_b, n_a, n_b, inter, jaccard) with src_a < src_b.

    Scale shape: shingle_arrays keyed by SOURCE (distinct within each
    row), one distinct on (source, shingle), then ONE groupBy(shingle)
    collecting each shingle's source set and expanding pairs inside the
    <= |sources|-element array with higher-order functions (x03's
    in-bucket pattern -- measured 7.7 s -> ~3 s at sf0.1 vs the posting
    self-join, which shuffles the posting list twice). Pair rows are
    source-pair-sized after the partial aggregation. No all-pairs
    anything.
    """
    sa = shingle_arrays(df, source_col, text_col)
    # explode_outer, NOT explode (the shingles() recipe): for inner
    # generates the optimizer infers a size(sh) > 0 filter and pushes it
    # below shingle_arrays' rebalance, re-inlining the WHOLE shingle
    # expression into a pre-shuffle filter on the raw single-split scan
    # (measured: a 4.4 s single-task stage at sf0.1 -- the entry's
    # dominant cost). size(toks) >= SHINGLE_K already guarantees non-empty
    # arrays, so outer == inner here.
    ss = sa.select(
        F.col("doc").alias("src"), F.explode_outer("sh").alias("shingle")
    )
    # ONE corpus shuffle total: collect_set dedupes (source, shingle)
    # inside the groupBy(shingle) -- a separate .distinct() first would
    # add a second full exchange of the exploded postings (measured
    # 6.6 s -> ~4 s at sf0.1). The bucket table is then immediately
    # collapsed to ONE ROW PER DISTINCT SOURCE-SET with a count: every
    # downstream quantity (per-source totals, pairwise intersections)
    # is a weighted fold over source-sets, so nothing shingle-sized is
    # ever checkpointed or reused -- the shared table is bounded by the
    # number of distinct source subsets (tiny), not |shingles|. The
    # srcs-keyed exchange partial-aggregates map-side (each task emits
    # <= |distinct subsets| rows), so it transits ~nothing at any scale;
    # singleton shingles (the vast majority in natural text -- the
    # round-4 checkpoint-bloat finding) collapse into |sources| rows.
    buckets = ss.groupBy("shingle").agg(
        F.array_sort(F.collect_set("src")).alias("srcs")
    )
    sets = (
        buckets.groupBy("srcs")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    per = (
        sets.select(F.explode("srcs").alias("src"), "n")
        .groupBy("src")
        .agg(F.sum("n").alias("n_sh"))
    )
    sr = F.col("srcs")
    inter = (
        sets.filter(F.size(sr) >= 2)
        .select(
            "n",
            F.explode(
                pairs_within(
                    sr,
                    lambda x, y: F.struct(
                        x.alias("src_a"), y.alias("src_b")
                    ),
                )
            ).alias("p"),
        )
        .select("p.*", "n")
        .groupBy("src_a", "src_b")
        .agg(F.sum("n").alias("inter"))
    )
    pa = per.select(F.col("src").alias("src_a"), F.col("n_sh").alias("n_a"))
    pb = per.select(F.col("src").alias("src_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("inter").cast("long").alias("inter"),
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )


def source_shingle_overlap_sql() -> str:
    """DuckDB SQL mirroring ``source_shingle_overlap`` (x03's shingle
    formula keyed by source)."""
    toks = "string_split(lower(text), ' ')"
    return f"""
WITH t AS (
  SELECT source AS src,
         list_transform(
           range(1, len({toks}) - {SHINGLE_K - 2}),
           i -> array_to_string(({toks})[i:i+{SHINGLE_K - 1}], ' ')
         ) AS sh
  FROM documents
  WHERE len({toks}) >= {SHINGLE_K}
), ss AS (
  SELECT DISTINCT src, unnest(sh) AS shingle FROM t
), per AS (
  SELECT src, count(*) AS n_sh FROM ss GROUP BY src
), inter AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS inter
  FROM ss a JOIN ss b USING (shingle)
  WHERE a.src < b.src
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(pa.n_sh AS BIGINT) AS n_a,
       CAST(pb.n_sh AS BIGINT) AS n_b,
       CAST(inter AS BIGINT) AS inter,
       ROUND(CAST(inter AS DOUBLE) / (pa.n_sh + pb.n_sh - inter), 4)
           AS jaccard
FROM inter
JOIN per pa ON pa.src = src_a
JOIN per pb ON pb.src = src_b
ORDER BY src_a, src_b
"""
