"""Quality gates for the approximate operators (the ones the driver can
only rows-check): each is validated against its exact counterpart, per the
register() docs in queries/extensions/ (per-wave modules).

All inputs and hash functions are deterministic (md5-derived hyperplanes,
fixed fixtures), so these bounds are exact reproducibility checks, not
flaky statistical ones.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from poc_parquet_publisher_spark.catalog import load_table
from poc_parquet_publisher_spark.ops import dedup, similarity


def _round_hu(x: float, n: int) -> float:
    """Round half AWAY from zero, matching Spark's F.round and DuckDB's
    ROUND -- Python's built-in round() is banker's and disagrees on
    exact dyadic ties (e.g. 17/32 = 0.53125 -> 0.5313 in both engines,
    0.5312 from Python)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-n), rounding=decimal.ROUND_HALF_UP
        )
    )


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_minhash_recovers_exact_jaccard_pairs(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text",
        ).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9  # measured 1.0 on the fixed fixture


def test_simhash_banding_is_complete(spark, docs):
    """Pigeonhole guarantee: banding misses NO pair within hamming<=3.

    Ground truth is an exact all-pairs hamming over the collected 64-bit
    signatures (500 docs -> 125k pairs, trivial in numpy).
    """
    sim = dedup.simhash(docs)
    rows = sim.collect()
    ids = np.array([r.doc_id for r in rows])
    bits = np.array(
        [[int(c) for c in r.simhash] for r in rows], dtype=np.int8
    )
    diff = (bits[:, None, :] != bits[None, :, :]).sum(axis=2)
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])), int(h))
        for i, j, h in zip(iu[0], iu[1], diff[iu])
        if h <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_hamming_pairs(
            sim, max_docs_per_band=None
        ).collect()
    }
    assert got == truth
    assert truth, "fixture should contain simhash near-dups"


def test_lsh_topk_recall_vs_brute_force(emb):
    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, q).collect()
    }
    assert len(bf) == 60  # 20 queries x k=3
    recall = len(bf & lsh) / len(bf)
    # Near-random 64-d embeddings are LSH's worst case; measured 0.4167
    # deterministic on this fixture. The point of the test is that the
    # bucketed path finds a meaningful fraction WITHOUT a cross join.
    assert recall >= 0.4


def test_ivf_topk_recall_vs_brute_force(emb):
    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, q).collect()
    }
    assert len(ivf) == 60  # probed clusters always yield k candidates here
    recall = len(bf & ivf) / len(bf)
    # measured 0.55 probing 4/16 clusters of near-random vectors; bound
    # leaves margin for k-means init sensitivity to partitioning
    assert recall >= 0.35


def test_lsh_neardup_recall_and_exactness_vs_exact_scan(emb):
    """x28 (banded candidates -> exact scoring) vs x09 (exact all-pairs),
    driven exactly as the registered entry runs it since round 9 --
    (n_planes, n_bands) from the lsh_params_for(count, 0.4, 0.95)
    deployment schedule: every pair x28 emits must carry the exact
    cosine (a strict subset of the exact result), and recall must clear
    the schedule's analytic 0.95-survival bound with margin."""
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    n_planes, n_bands = similarity.lsh_params_for(
        emb.count(), threshold=0.4, target_recall=0.95
    )
    approx = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.lsh_neardup_pairs(
            emb, n_planes=n_planes, n_bands=n_bands,
        ).collect()
    }
    assert exact, "fixture should contain near-dup pairs at 0.4"
    # precision 1.0: scoring is exact, so no false positives possible
    for pair, sim in approx.items():
        assert pair in exact
        assert sim == pytest.approx(exact[pair], abs=1e-4)
    recall = len(set(approx) & set(exact)) / len(exact)
    # the schedule guarantees per-pair survival >= 0.95 at cosine
    # exactly 0.4 (higher above); gate at 0.9 for sampling margin
    assert recall >= 0.9


def test_lsh_neardup_fixed_params_retired_form_still_subset(emb):
    """The round-8 fixed (16 planes, 8 bands) form -- retired from the
    registry in round 9 in favor of the lsh_params_for schedule -- must
    keep its subset/exactness contract for anyone pinning parameters by
    hand; the scheduled form's candidate set is the scale-safe one."""
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    fixed = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.lsh_neardup_pairs(
            emb, n_planes=16, n_bands=8,
        ).collect()
    }
    for pair, sim in fixed.items():
        assert pair in exact
        assert sim == pytest.approx(exact[pair], abs=1e-4)


def test_ann_scoring_never_collects_corpus(monkeypatch, emb):
    """The 100 TB contract for lsh_topk / ivf_topk / lsh_neardup_pairs:
    the only driver materialization allowed is the QUERY matrix.
    _normalized_matrix is the sole toPandas gateway in similarity.py, so
    intercept it and assert it never receives a corpus-sized frame."""
    q = emb.filter(F.col("vec_id") < 20)
    n_queries = 20
    seen: list[int] = []
    real = similarity._normalized_matrix

    def spy(df, id_col, vec_col):
        ids, mat = real(df, id_col, vec_col)
        seen.append(len(ids))
        return ids, mat

    monkeypatch.setattr(similarity, "_normalized_matrix", spy)
    similarity.lsh_topk(emb, q).collect()
    similarity.ivf_topk(emb, q).collect()
    similarity.lsh_neardup_pairs(emb).collect()
    assert seen, "spy should have observed the query-side materialization"
    assert max(seen) <= n_queries, (
        f"corpus-sized collect detected: {seen}"
    )


def test_sketch_distinct_within_error_bound(spark):
    from poc_parquet_publisher_spark.queries.extensions import (
        x16_sketch_distinct,
    )

    orders = load_table(spark, SF, "orders")
    exact_custs = orders.select("o_custkey").distinct().count()
    exact_orders = orders.select("o_orderkey").distinct().count()
    row = x16_sketch_distinct(spark, SF).first()
    # rsd=0.02; allow 3 sigma
    assert abs(row.approx_custs - exact_custs) <= max(3, 0.06 * exact_custs)
    assert abs(row.approx_orders - exact_orders) <= max(3, 0.06 * exact_orders)


def test_sketch_quantiles_within_rank_error(spark):
    from poc_parquet_publisher_spark.queries.extensions import (
        x17_sketch_quantiles,
    )

    orders = load_table(spark, SF, "orders")
    vals = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())
    n = len(vals)
    row = x17_sketch_quantiles(spark, SF).first()
    for got, q in ((row.p50, 0.5), (row.p90, 0.9), (row.p99, 0.99)):
        # GK sketch guarantees rank error <= n/accuracy; use a loose 1%
        lo = vals[max(0, int((q - 0.01) * n) - 1)]
        hi = vals[min(n - 1, int((q + 0.01) * n))]
        assert lo <= got <= hi, (q, got, lo, hi)


def test_edge_cases_empty_and_null_inputs(spark, emb):
    """Degenerate inputs must produce empty/typed results, not crashes."""
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    null_docs = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "")], "doc_id long, text string"
    )
    assert dedup.exact_dedup(empty_docs, "doc_id", "text").count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs, "doc_id", "text").count() == 0
    assert dedup.ngram_jaccard_pairs(null_docs, "doc_id", "text").count() == 0
    assert dedup.exact_dedup(null_docs, "doc_id", "text").count() == 3

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(emb, empty_vecs, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "sim"]
    assert (
        similarity.cosine_neardup_pairs(empty_vecs, threshold=0.4).count()
        == 0
    )
    assert (
        similarity.lsh_topk(emb, empty_vecs).count()
        == 0
    )


def test_deterministic_split_properties(spark, docs):
    from poc_parquet_publisher_spark.ops import sampling

    split = sampling.deterministic_split(docs, "doc_id", 0.25)
    counts = {r.split: r.n for r in split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # binomial(500, 0.25) within 5 sigma
    assert abs(counts.get("test", 0) - 0.25 * total) < 5 * (0.25 * 0.75 * total) ** 0.5
    # pure function of key: re-running yields the identical assignment
    a = {(r.doc_id, r.split) for r in split.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in sampling.deterministic_split(docs, "doc_id", 0.25)
        .select("doc_id", "split")
        .collect()
    }
    assert a == b
    # a different salt gives a different (independent) assignment
    c = {
        (r.doc_id, r.split)
        for r in sampling.deterministic_split(docs, "doc_id", 0.25, salt="v2")
        .select("doc_id", "split")
        .collect()
    }
    assert c != a


def test_sampling_fraction_one_keeps_all_rows(spark, docs):
    """fraction=1.0 must keep/assign EVERY row: the naive 5-char hex
    threshold '10000' sorts below most 4-char buckets and silently kept
    ~6% -- regression gate for the sentinel fix, on both the DataFrame
    and generated-SQL paths."""
    from poc_parquet_publisher_spark.ops import sampling

    n = docs.count()
    split = sampling.deterministic_split(docs, "doc_id", test_fraction=1.0)
    assert split.filter(F.col("split") == "test").count() == n

    kept = sampling.stratified_sample(
        docs, "doc_id", "lang", {"es": 1.0}, default_fraction=1.0
    )
    assert kept.count() == n

    # generated SQL agrees (DuckDB compares strings the same way)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{SF}/documents.parquet')"
        )
        sql = sampling.stratified_sample_sql(
            "duckdb", "documents", "doc_id", "lang", {"es": 1.0},
            default_fraction=1.0,
        )
        assert con.execute(sql).df().shape[0] == n
    finally:
        con.close()


def test_curate_pipeline_invariants(spark, docs):
    from poc_parquet_publisher_spark.ops import curate, dedup

    out = curate.curate(docs, languages=("en", "es", "fr", "de")).cache()
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out <= n_in
    assert set(out.columns) == {"doc_id", "text", "pred_lang", "split"}
    # no exact duplicates survive
    assert (
        out.select(F.md5(F.lower("text"))).distinct().count() == n_out
    )
    # no near-dup pair at the threshold survives
    assert (
        dedup.ngram_jaccard_pairs(out, "doc_id", "text", threshold=0.8).count()
        == 0
    )
    # split column is only train/test and reruns identically
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train",
        "test",
    }
    again = curate.curate(docs, languages=("en", "es", "fr", "de"))
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in out.collect()
    }
    out.unpersist()


def test_lsh_scored_sims_are_exact(emb):
    """LSH approximates the CANDIDATE SET, never the similarity: any
    (query, neighbor) it returns must carry the exact cosine."""
    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        (r.query_id, r.neighbor_id): r.sim
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id): r.sim
        for r in similarity.lsh_topk(emb, q).collect()
    }
    for pair, sim in lsh.items():
        if pair in bf:
            assert sim == pytest.approx(bf[pair], abs=1e-4)


def test_duplicate_clusters_transitive_closure(spark):
    """Chain a-b-c collapses to one cluster even though (a,c) is not a
    pair; (d,e) stays its own cluster; f never appears (no edges)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.rep)
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_duplicate_clusters_fixture_invariants(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5
    ).cache()
    labels = dedup.duplicate_clusters(pairs)
    rep = {r.node: r.rep for r in labels.collect()}
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    pairs.unpersist()
    nodes = {n for e in edges for n in e}
    assert set(rep) == nodes
    # both endpoints of every pair land in the same cluster
    assert all(rep[a] == rep[b] for a, b in edges)
    # the representative is a member of its own cluster and its minimum
    for node, r in rep.items():
        assert rep[r] == r
        assert r <= node


def test_stratified_sample_rates_and_stability(docs):
    from poc_parquet_publisher_spark.ops import sampling

    fractions = {"es": 0.75, "zh": 0.25}
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", fractions, default_fraction=0.5
    ).cache()
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    kept = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for lang, total in totals.items():
        target = fractions.get(lang, 0.5)
        assert abs(kept.get(lang, 0) / total - target) < 0.15
    # assignment is a pure key function: repartitioning changes nothing
    again = sampling.stratified_sample(
        docs.repartition(7), "doc_id", "lang", fractions,
        default_fraction=0.5,
    )
    assert {r.doc_id for r in again.select("doc_id").collect()} == {
        r.doc_id for r in out.select("doc_id").collect()
    }
    out.unpersist()


def test_duplicate_clusters_string_ids(spark):
    """Non-numeric ids exercise the join-probe convergence path; reps
    are still the lexicographic component minimum."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.rep)
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    }


def test_duplicate_clusters_empty_pairs(spark):
    """A corpus with no qualifying pairs yields an empty label table
    (and the convergence probe terminates on the first round)."""
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dedup.duplicate_clusters(pairs).count() == 0


def test_semantic_dedup_precision_and_coverage(emb):
    """x35 gates: (a) every row appears exactly once; (b) precision 1.0 --
    a dropped row really has a lower-id co-clustered row at >= threshold
    (verified against numpy exact cosines); (c) co-clustered recall 1.0 --
    any same-cluster pair at >= threshold drops the higher id; (d) the
    assignment is stable under repartitioning."""
    thr = 0.4
    res = similarity.semantic_dedup(emb, threshold=thr, n_centroids=4)
    rows = res.collect()
    n = emb.count()
    assert len(rows) == n and len({r.id for r in rows}) == n

    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sim = {
        (int(a), int(b)): round(float(mat[i] @ mat[j]), 4)
        for i, a in enumerate(ids)
        for j, b in enumerate(ids)
        if a < b
    }

    cluster = {r.id: r.centroid for r in rows}
    dropped = {r.id for r in rows if not r.keep}
    assert dropped, "fixture should contain semantic near-dups at 0.4"
    by_id = sorted(r.id for r in rows)
    for d in dropped:
        assert any(
            cluster[o] == cluster[d] and sim[(o, d)] >= thr
            for o in by_id
            if o < d
        ), f"row {d} dropped without a qualifying lower-id neighbor"
    for (a, b), s in sim.items():
        if s >= thr and cluster[a] == cluster[b]:
            assert b in dropped, f"co-clustered dup ({a},{b}) kept {b}"

    again = similarity.semantic_dedup(
        emb.repartition(7), threshold=thr, n_centroids=4,
    ).collect()
    assert {(r.id, r.centroid, r.keep) for r in again} == {
        (r.id, r.centroid, r.keep) for r in rows
    }


def test_weighted_sample_is_weight_biased(docs):
    """x36 gate: the priority sample is deterministic and actually biased
    by weight -- the sampled mean weight exceeds the corpus mean."""
    from poc_parquet_publisher_spark.ops import sampling

    s1 = sampling.weighted_sample(docs, "doc_id", "n_chars", n=50).collect()
    s2 = sampling.weighted_sample(
        docs.repartition(5), "doc_id", "n_chars", n=50
    ).collect()
    assert [r.doc_id for r in s1] == [r.doc_id for r in s2]
    assert len(s1) == 50
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in s1) / len(s1)
    assert sample_mean > corpus_mean


def test_minhash_deterministic_candidates_cover_high_jaccard(docs):
    """x40 gate: the deterministic banded candidates must surface the
    strongly-similar pairs (jaccard >= 0.7 -- band survival ~0.93 by the
    S-curve; measured 1.0 on the fixed fixture), and be reproducible
    under repartitioning."""
    strong = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.7
        ).collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_banded_pairs(docs, "doc_id", "text").collect()
    }
    assert strong, "fixture should contain strong near-dups"
    recall = len(strong & cand) / len(strong)
    assert recall >= 0.9
    again = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_banded_pairs(
            docs.repartition(5), "doc_id", "text"
        ).collect()
    }
    assert cand == again


def test_duplicate_clusters_distributed_matches_unionfind(docs):
    """The small-graph union-find fast path and the distributed
    min-label rounds must produce identical (node, rep) sets."""
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    fast = {
        (r.node, r.rep) for r in dedup.duplicate_clusters(pairs).collect()
    }
    dist = {
        (r.node, r.rep)
        for r in dedup.duplicate_clusters(
            pairs, small_graph_edges=None
        ).collect()
    }
    assert fast == dist and fast


def test_round3_ops_edge_cases(spark, docs, emb):
    """Degenerate inputs for the round-3 operators: empty benchmark,
    short/empty docs, n larger than the corpus, all-null profile
    column -- none may throw or mis-count."""
    from poc_parquet_publisher_spark.ops import packing, profile, sampling, text

    empty_docs = docs.filter(F.lit(False))

    # contamination vs an EMPTY benchmark: all scores 0, all docs present
    scores = dedup.contamination_scores(
        docs, empty_docs, "doc_id", "text"
    ).collect()
    n_eligible = docs.filter(
        F.size(F.split(F.lower("text"), " ")) >= 3
    ).count()
    assert len(scores) == n_eligible
    assert all(r.n_overlap == 0 and r.contamination == 0.0 for r in scores)

    # chunking: a doc shorter than one chunk yields exactly one chunk
    one = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    chunks = packing.chunk_documents(one, "doc_id", "text").collect()
    assert len(chunks) == 1 and chunks[0].n_chunk_toks == 3

    # weighted sample with n > corpus: everything kept once
    n_docs = docs.count()
    s = sampling.weighted_sample(docs, "doc_id", "n_chars", n=10 * n_docs)
    assert s.count() == docs.filter(F.col("n_chars") > 0).count()

    # shard shuffle: positions are a permutation within each shard
    sh = sampling.shard_shuffle(docs, "doc_id", n_shards=4).collect()
    by_shard: dict = {}
    for r in sh:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # profiling an all-null column: n_nonnull 0, stats null, no throw
    nulls = docs.withColumn("allnull", F.lit(None).cast("double"))
    prof = {
        r.col: r
        for r in profile.profile_numeric(nulls, ["allnull", "n_chars"]).collect()
    }
    assert prof["allnull"].n_nonnull == 0
    assert prof["allnull"].avg_v is None
    assert prof["n_chars"].n_nonnull == n_docs

    # unigram logprob on empty corpus: empty result, no division error
    assert text.unigram_logprob(empty_docs, "doc_id", "text").count() == 0

    # deterministic minhash on empty corpus: no pairs
    assert dedup.minhash_banded_pairs(empty_docs, "doc_id", "text").count() == 0


def test_new_ops_edge_cases(spark, docs):
    """Degenerate inputs for x45-x48: short docs below the window size,
    within-doc repeats, single-stratum mixtures, top_n beyond the vocab,
    empty session input."""
    from poc_parquet_publisher_spark.ops import sampling, text
    from poc_parquet_publisher_spark.streaming.windows import (
        session_event_counts,
    )

    # duplicate_spans: doc shorter than k reports 0/0.0; a doc that is
    # one 5-gram repeated twice WITHIN itself is fully covered (within-
    # doc repeats count toward the >=2 threshold)
    tiny = spark.createDataFrame(
        [
            (1, "a b"),
            (2, "p q r s t p q r s t"),
            (3, "u v w x y z distinct tokens only here"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: r for r in dedup.duplicate_spans(
            tiny, "doc_id", "text", k=5
        ).collect()
    }
    assert spans[1].dup_tokens == 0 and spans[1].dup_frac == 0.0
    assert spans[2].dup_tokens == 10 and spans[2].dup_frac == 1.0
    assert spans[3].dup_tokens == 0

    # determinism under repartitioning (shuffle-order independence)
    a = sorted(
        map(tuple, dedup.duplicate_spans(docs, "doc_id", "text").collect())
    )
    b = sorted(
        map(
            tuple,
            dedup.duplicate_spans(
                docs.repartition(7), "doc_id", "text"
            ).collect(),
        )
    )
    assert a == b

    # temperature mixture with ONE stratum: shares and factor all 1.0
    one_src = docs.withColumn("source", F.lit("only"))
    m = sampling.temperature_mixture(one_src, "source", "text").collect()
    assert len(m) == 1
    assert m[0].token_share == 1.0 and m[0].temp_share == 1.0
    assert m[0].sample_factor == 1.0

    # temperature mixture upweights the tail: smallest stratum has the
    # largest sample_factor, and factors straddle 1
    mix = sampling.temperature_mixture(docs, "source", "text").collect()
    if len(mix) >= 2:
        by_tokens = sorted(mix, key=lambda r: r.n_tokens)
        assert by_tokens[0].sample_factor >= by_tokens[-1].sample_factor
        assert by_tokens[0].sample_factor >= 1.0
        assert by_tokens[-1].sample_factor <= 1.0

    # vocab coverage: top_n beyond the vocab returns the whole vocab,
    # cumulative coverage reaches exactly 1.0, ranks are 1..n
    vc = text.vocab_coverage(docs, "text", top_n=10**6).collect()
    assert [r.rank for r in vc] == list(range(1, len(vc) + 1))
    assert abs(vc[-1].cum_coverage - 1.0) < 1e-9
    assert all(
        vc[i].cnt >= vc[i + 1].cnt for i in range(len(vc) - 1)
    )

    # session windows on an empty frame: empty result, no throw
    empty_ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp"
    )
    assert session_event_counts(empty_ev).count() == 0


def test_pii_stats_reconciles_with_scrub(spark):
    """x49's audit counts must equal x20 scrub's n_redactions per doc
    (the counts mirror the scrub's progressive masking order). The
    fixture corpus is PII-free word soup, so the semantics live on
    synthetic rows: overlaps (email inside URL), repeats, parens/space
    phone shapes, and a clean row."""
    from poc_parquet_publisher_spark.ops import text as T

    syn = spark.createDataFrame(
        [
            (1, "contact me at bob@example.com or https://x.io/a?b=1 now"),
            (2, "call +1-303-555-0100 or (720) 555 0199 then "
                "+1-303-555-0100 again"),
            (3, "no pii here at all"),
            (4, "mailto bob@ex.co https://a.b/c bob2@ex.co +12025550123"),
            (5, "url with email inside https://ex.com/u?mail=bob@ex.co x"),
        ],
        "doc_id long, text string",
    )
    pii = {
        r.doc_id: (r.n_url, r.n_email, r.n_phone, r.n_pii)
        for r in T.pii_stats(syn, "doc_id", "text").collect()
    }
    red = {
        r.doc_id: r.n_redactions
        for r in T.scrub(syn, "doc_id", "text").collect()
    }
    for d, (_, _, _, n_pii) in pii.items():
        assert n_pii == red[d], (d, pii[d], red[d])
    assert pii[1] == (1, 1, 0, 2)
    assert pii[3] == (0, 0, 0, 0)
    # the URL swallows the embedded email: counted once, as a URL
    assert pii[5] == (1, 0, 0, 1)


def test_bigram_and_quarantine_edge_cases(spark):
    """x52: one-token docs have no bigrams and drop out; a two-doc
    corpus where every bigram is unique scores log10 of its context
    share. x53: null and empty-string payloads quarantine."""
    from poc_parquet_publisher_spark.ops import text as T
    from poc_parquet_publisher_spark.pipeline.ingest import json_quarantine

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "a b"), (3, "a b a b")],
        "doc_id long, text string",
    )
    lp = {r.doc_id: r for r in T.bigram_logprob(docs, "doc_id", "text").collect()}
    assert 1 not in lp  # no bigrams
    # corpus bigrams: doc2 {a b}, doc3 {a b, b a, a b}; c(a b)=3, c(b a)=1
    # ctx a: 3, ctx b: 1 -> P(b|a)=1.0, P(a|b)=1.0: all logp 0
    assert lp[2].n_bigrams == 1 and lp[2].mean_logp == 0.0
    assert lp[3].n_bigrams == 3 and lp[3].mean_logp == 0.0

    ev = spark.createDataFrame(
        [
            (1, '{"k": 5}'),
            (2, None),
            (3, ""),
            (4, '{"other": 1}'),
            (5, "not json at all"),
        ],
        "event_id long, props string",
    )
    q = {r.event_id: r.status for r in json_quarantine(ev, "event_id", "props").collect()}
    assert q == {
        1: "ok",
        2: "quarantined",
        3: "quarantined",
        4: "quarantined",
        5: "quarantined",
    }


def test_referential_integrity_counts_orphans(spark):
    """x55 on data that actually HAS orphans (the fixture FKs are
    clean): null child keys and missing parents both count."""
    from poc_parquet_publisher_spark.ops import profile

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = profile.referential_integrity(
        [("child->parent", child, "fk", parent, "pk")]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.edge, r.n_child, r.n_orphans, r.orphan_rate) == (
        "child->parent", 4, 2, 0.5,
    )


def test_duplicate_spans_matches_python_reference(spark):
    """Property-based differential test for x45: on random small corpora
    over a 3-word vocabulary (high collision pressure), the distributed
    result must equal a direct Python computation of the same semantics
    (k-window counts corpus-wide incl. within-doc repeats, >=2 means
    duplicated, positions covered by any duplicated window)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    K = 3
    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=12)
    corpus = st.lists(doc, min_size=1, max_size=6)

    def reference(texts):
        wins: Counter = Counter()
        toks_by_doc = {}
        for d, toks in enumerate(texts):
            toks_by_doc[d] = toks
            for i in range(len(toks) - K + 1):
                wins[" ".join(toks[i : i + K])] += 1
        out = {}
        for d, toks in toks_by_doc.items():
            covered: set = set()
            for i in range(len(toks) - K + 1):
                if wins[" ".join(toks[i : i + K])] >= 2:
                    covered.update(range(i, i + K))
            n = len(toks)
            out[d] = (n, len(covered))
        return out

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(corpus)
    def run(texts):
        rows = [(d, " ".join(toks)) for d, toks in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.dup_tokens)
            for r in dedup.duplicate_spans(
                df, "doc_id", "text", k=K
            ).collect()
        }
        # Spark's split("") on an empty string yields [''] (1 token);
        # mirror that for zero-word docs
        want = reference([t if t else [""] for t in texts])
        assert got == want, (texts, got, want)

    run()


def test_bigram_logprob_matches_python_reference(spark):
    """Differential test for x52 on random corpora over a tiny
    vocabulary: distributed mean conditional log-probs must equal a
    direct Python computation (context counts from the bigram table,
    log10 rounded to 6 then exactly accumulated, mean rounded to 4)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from poc_parquet_publisher_spark.ops import text as T

    word = st.sampled_from(["x", "y", "z"])
    doc = st.lists(word, min_size=0, max_size=8)
    corpus = st.lists(doc, min_size=1, max_size=5)

    def reference(texts):
        bigrams = Counter()
        per_doc: dict = {}
        for d, toks in enumerate(texts):
            bgs = [
                f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
            ]
            if bgs:
                per_doc[d] = bgs
                bigrams.update(bgs)
        ctx = Counter()
        for bg, c in bigrams.items():
            ctx[bg.split(" ")[0]] += c
        out = {}
        for d, bgs in per_doc.items():
            tot = Decimal(0)
            for bg in bgs:
                p = bigrams[bg] / ctx[bg.split(" ")[0]]
                tot += Decimal(str(round(math.log10(p), 6)))
            n = len(bgs)
            out[d] = (n, _round_hu(float(tot) / n, 4))
        return out

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(corpus)
    def run(texts):
        rows = [(d, " ".join(toks)) for d, toks in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.mean_logp)
            for r in T.bigram_logprob(df, "doc_id", "text").collect()
        }
        want = reference(texts)
        assert got == want, (texts, got, want)

    run()


def test_temperature_mixture_matches_python_reference(spark):
    """Differential test for x46: shares and sample factors must equal
    the direct computation with floor-scaled integer sqrt sums."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from poc_parquet_publisher_spark.ops import sampling

    strata = st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=40),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(strata)
    def run(spec):
        # spec: stratum -> doc count; each doc has 3 tokens
        rows = []
        i = 0
        for s, n in spec.items():
            for _ in range(n):
                rows.append((i, s, "t1 t2 t3"))
                i += 1
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        got = {
            r.stratum: (r.n_tokens, r.token_share, r.temp_share,
                        r.sample_factor)
            for r in sampling.temperature_mixture(
                df, "source", "text"
            ).collect()
        }
        n_tok = {s: 3 * n for s, n in spec.items()}
        total = sum(n_tok.values())
        q = {s: math.floor(math.sqrt(float(v)) * 10**6)
             for s, v in n_tok.items()}
        qt = sum(q.values())
        want = {
            s: (
                v,
                _round_hu(v / total, 4),
                _round_hu(q[s] / qt, 4),
                _round_hu((q[s] / qt) / (v / total), 4),
            )
            for s, v in n_tok.items()
        }
        assert got == want, (spec, got, want)

    run()


def test_vocab_and_oov_match_python_reference(spark):
    """Differential test for x47/x51: coverage curve and OOV ratios on
    random corpora must equal direct Python computations (same
    (cnt DESC, term) vocab order, same top-N truncation)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from poc_parquet_publisher_spark.ops import text as T

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(word, min_size=1, max_size=10)
    corpus = st.lists(doc, min_size=1, max_size=5)
    TOP = 3

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(corpus)
    def run(texts):
        rows = [(d, " ".join(toks)) for d, toks in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        counts = Counter(t for toks in texts for t in toks)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(counts.values())
        want_curve = []
        cum = 0
        for i, (term, cnt) in enumerate(ranked[:TOP], start=1):
            cum += cnt
            want_curve.append((i, term, cnt, _round_hu(cum / total, 4)))
        got_curve = [
            (r.rank, r.term, r.cnt, r.cum_coverage)
            for r in T.vocab_coverage(df, "text", top_n=TOP).collect()
        ]
        assert got_curve == want_curve, (texts, got_curve, want_curve)

        vocab = {t for t, _ in ranked[:TOP]}
        want_oov = {
            d: (
                len(toks),
                sum(1 for t in toks if t not in vocab),
                _round_hu(
                    sum(1 for t in toks if t not in vocab) / len(toks), 4
                ),
            )
            for d, toks in enumerate(texts)
        }
        got_oov = {
            r.doc_id: (r.n_tokens, r.n_oov, r.oov_ratio)
            for r in T.oov_ratio(df, "doc_id", "text", top_n=TOP).collect()
        }
        assert got_oov == want_oov, (texts, got_oov, want_oov)

    run()


def test_compression_ratio_quality_gate(spark):
    """x65: repeated text must compress far below high-entropy text;
    empty/null -> NULL; identical results under repartitioning."""
    import hashlib

    from poc_parquet_publisher_spark.ops import text as T

    junk = "spam ham " * 200
    prose_words = [
        hashlib.sha256(str(i).encode()).hexdigest()[:8] for i in range(400)
    ]
    prose = " ".join(prose_words)
    df = spark.createDataFrame(
        [(1, junk), (2, prose), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in T.compression_ratio(
            df, "doc_id", "text"
        ).collect()
    }
    assert out[1].zlib_ratio < 0.05  # repetition collapses
    assert out[2].zlib_ratio > 0.5  # hex soup stays mostly incompressible
    assert out[1].zlib_ratio < out[2].zlib_ratio / 5
    assert out[3].zlib_ratio is None and out[4].zlib_ratio is None

    a = sorted(map(tuple, T.compression_ratio(df, "doc_id", "text").collect()))
    b = sorted(
        map(
            tuple,
            T.compression_ratio(
                df.repartition(5), "doc_id", "text"
            ).collect(),
        )
    )
    assert a == b


def test_snapshot_diff_edge_cases(spark):
    """x50 semantics on constructed snapshots: disjoint ids, same id
    with changed text, identical rows, and case-SENSITIVE hashing (the
    diff must not normalize -- a case change IS a change)."""
    from poc_parquet_publisher_spark.ops import incremental

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "BETA"), (3, "gamma"), (4, "delta")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.status
        for r in incremental.snapshot_diff(
            old, new, "doc_id", "text"
        ).collect()
    }
    assert out == {
        1: "removed",
        2: "changed",  # case change is a change
        3: "unchanged",
        4: "added",
    }


def test_lsh_verified_pairs_recall_vs_exact(docs):
    """x75: the verified output must be a SUBSET of the exact blocked
    Jaccard pass (verify kills banding false positives exactly), with
    recall on this fixture's high-overlap pairs at 1.0 (every true
    pair >= 0.5 surfaces through at least one band here)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    verified = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_verified_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert verified <= exact
    assert verified == exact  # full recall on this fixture


def test_copurchase_pairs_match_python_reference(spark):
    """Differential test for x76's in-bucket pair expansion: random
    small baskets must produce exactly the itertools.combinations
    counts (duplicates within a basket collapse first)."""
    from collections import Counter
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    basket = st.lists(
        st.integers(min_value=1, max_value=6), min_size=0, max_size=5
    )
    orders = st.lists(basket, min_size=1, max_size=6)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(orders)
    def run(baskets):
        rows = [
            (o, p) for o, parts in enumerate(baskets) for p in parts
        ]
        if not rows:
            return
        df = spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        )
        items = df.distinct()
        buckets = items.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("parts")
        )
        ps = F.col("parts")
        pairs = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ps,
                        lambda x, i: F.transform(
                            F.slice(ps, i + F.lit(2), F.size(ps)),
                            lambda y: F.struct(
                                x.alias("a"), y.alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.*")
        got = Counter(
            (r.a, r.b)
            for r in pairs.collect()
        )
        want = Counter()
        for parts in baskets:
            for a, b in combinations(sorted(set(parts)), 2):
                want[(a, b)] += 1
        assert got == want, (baskets, got, want)

    run()


def test_normalize_text_recovers_original(spark, docs):
    """x89 invariant: whitespace dirt (leading spaces, tripled
    separators, trailing tab) normalizes back to the ORIGINAL text
    byte-for-byte, so content-hash dedup sees one document."""
    from poc_parquet_publisher_spark.ops import text as T

    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "   "),
            F.lit("\t"),
        ).alias("text"),
    )
    norm = T.normalize_text(dirty, "doc_id", "text").select(
        "doc_id", F.col("normalized")
    )
    orig = docs.select("doc_id", F.col("text").alias("expected"))
    joined = norm.join(orig, "doc_id")
    assert (
        joined.filter(F.col("normalized") != F.col("expected")).count()
        == 0
    )
    assert T.normalize_text(dirty, "doc_id", "text").filter(
        ~F.col("changed")
    ).count() == 0


def test_token_budget_presample_matches_exact_under_skew(spark):
    """presample_rate is the monster-stratum mitigation: a shuffle-free
    rate filter keeping the PREFIX of the same md5(key:salt)
    consumption order the window uses, so when the budget fills inside
    the prefix the capped output is row-identical to the exact version
    -- here with 90% of rows in one stratum. An undershot rate keeps
    every survivor without ever exceeding the budget."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.ops import sampling

    df = spark.range(20_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.when(F.col("id") % 10 < 9, "big")
        .otherwise("small")
        .alias("src"),
        F.lit(10).alias("n_tok"),
    )
    budgets = {"big": 2_000, "small": 1_500}  # 200 / 150 rows kept

    def rows(res):
        return {(r.k, r.src, r.cum_tokens) for r in res.collect()}

    exact = rows(
        sampling.token_budget_sample(df, "k", "src", "n_tok", budgets)
    )
    # 'big' needs 200 of its 18000 rows; rate 0.05 leaves ~900 -- ample
    fast = rows(
        sampling.token_budget_sample(
            df, "k", "src", "n_tok", budgets,
            presample_rate={"big": 0.05},
        )
    )
    assert fast == exact
    # scalar rate applies to every stratum: must clear 'small' too
    # (1500/20000 tokens -> rate 0.15 leaves ~300 rows = ~3000 tokens)
    scalar = rows(
        sampling.token_budget_sample(
            df, "k", "src", "n_tok", budgets, presample_rate=0.15
        )
    )
    assert scalar == exact

    # undershot rate: 'big' keeps every survivor (< budget tokens),
    # never a biased superset; survivors are a subset of the exact keep
    under = rows(
        sampling.token_budget_sample(
            df, "k", "src", "n_tok", budgets,
            presample_rate={"big": 0.001},
        )
    )
    assert under < exact
    big_tokens = sum(
        10 for k, s, _ in under if s == "big"
    )
    assert 0 < big_tokens < budgets["big"]


def test_int8_quantization_error_bound(emb):
    """Dequantized vectors (code * scale) reconstruct every component
    within scale/2 (the symmetric-quantization bound) and codes stay in
    [-127, 127]."""
    from poc_parquet_publisher_spark.ops import similarity

    q = similarity.quantize_embeddings_int8(emb)
    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }
    n_checked = 0
    for r in q.collect():
        v = orig[r.vec_id]
        scale = r.scale_e7 / 1e7  # floor-scaled, so <= true scale
        true_scale = max(abs(x) for x in v) / 127.0
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == len(v)
        assert all(-127 <= c <= 127 for c in codes)
        for c, x in zip(codes, v):
            assert abs(c * true_scale - x) <= true_scale / 2 + 1e-12
        n_checked += 1
    assert n_checked == len(orig)  # fixture has no zero vectors


def test_round4_ops_edge_cases(spark):
    """Edge shapes for the round-4 ops: zero vectors are excluded from
    quantization; short/empty docs produce sane line-dedup stats; a doc
    made ENTIRELY of boilerplate hashes to md5('')."""
    import hashlib

    from poc_parquet_publisher_spark.ops import similarity, text

    # quantization: the zero vector has no scale and must be excluded
    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = similarity.quantize_embeddings_int8(emb)
    rows = {r.vec_id: r for r in q.collect()}
    assert set(rows) == {1}
    assert rows[1].codes == "64,-127,32"  # 0.5/(1/127)=63.5 -> 64

    # line dedup: 3 docs share one 8-token boilerplate line (min_docs=3);
    # doc 4 is shorter than a line; doc 5 is ONLY the boilerplate line
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = spark.createDataFrame(
        [
            (1, boiler + " u1 u2 u3 u4 u5 u6 u7 u8"),
            (2, boiler + " v1 v2 v3 v4 v5 v6 v7 v8"),
            (3, boiler + " w1 w2 w3"),
            (4, "tiny doc"),
            (5, boiler),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text.line_dedup_stats(docs, "doc_id", "text").collect()
    }
    assert {d: (r.n_lines, r.n_dropped) for d, r in out.items()} == {
        1: (2, 1), 2: (2, 1), 3: (2, 1), 4: (1, 0), 5: (1, 1),
    }
    # all-boilerplate doc keeps nothing: kept_hash is md5('')
    assert out[5].kept_hash == hashlib.md5(b"").hexdigest()
    # the short doc survives untouched: kept text is its own line
    assert out[4].kept_hash == hashlib.md5(b"tiny doc").hexdigest()


def test_charset_audit_counts_synthetic_dirt(spark):
    """The fixture corpus is clean ASCII, so the nonzero columns are
    exercised here on planted dirt: one doc with non-ASCII text, one
    with a C0 control char, one with U+FFFD, one clean."""
    from poc_parquet_publisher_spark.ops import text as T

    rows = [
        ("s1", "café naïve"),          # 3 non-ascii chars
        ("s1", "broken\x07bell"),                # 1 control char
        ("s2", "decode � failure �"),  # 2 replacement chars
        ("s2", "clean ascii text"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        r["source"]: r
        for r in T.charset_audit(df, "source", "text").collect()
    }
    assert out["s1"]["n_non_ascii"] == 2  # é, ï
    assert out["s1"]["n_control"] == 1
    assert out["s1"]["n_replacement"] == 0
    assert out["s2"]["n_non_ascii"] == 2  # U+FFFD is also non-ascii
    assert out["s2"]["n_replacement"] == 2
    assert out["s2"]["n_control"] == 0
    assert out["s2"]["n_docs"] == 2


def test_blocklist_stats_flags_exact_tokens_only(spark):
    """Token-level matching: 'slow' flags, 'slowly' must not (the
    C4 rule is whole-word); rate math checked exactly."""
    from poc_parquet_publisher_spark.ops import text as T

    rows = [
        ("a", "this is slow code"),
        ("a", "moving slowly along"),
        ("a", "all clean here"),
        ("b", "big dup big dup"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        r["source"]: r
        for r in T.blocklist_stats(df, "source", "text").collect()
    }
    assert out["a"]["n_flagged"] == 1 and out["a"]["total_hits"] == 1
    assert out["a"]["flag_rate"] == pytest.approx(1 / 3, abs=1e-4)
    assert out["b"]["n_flagged"] == 1 and out["b"]["total_hits"] == 4


def test_zipf_fit_recovers_planted_power_law(spark):
    """A corpus built with freq(term_r) = round(1000 / r) must fit
    slope ~= -1; a uniform corpus must fit slope ~= 0."""
    from poc_parquet_publisher_spark.ops import text as T

    power = []
    for r in range(1, 51):
        power.extend([f"t{r:03d}"] * round(1000 / r))
    df = spark.createDataFrame([(" ".join(power),)], ["text"])
    slope = T.zipf_fit(df, "text", top_k=50).collect()[0]["zipf_slope"]
    assert -1.1 < slope < -0.9

    uniform = (" ".join(f"u{r:03d}" for r in range(1, 51)) + " ") * 10
    df2 = spark.createDataFrame([(uniform,)], ["text"])
    slope2 = T.zipf_fit(df2, "text", top_k=50).collect()[0]["zipf_slope"]
    assert abs(slope2) < 0.01


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    """'ab' appearing in a 3x-repeated word outweighs a pair from a
    once-seen word; punctuation-bearing and 1-char tokens drop."""
    from poc_parquet_publisher_spark.ops import text as T

    df = spark.createDataFrame(
        [("abc abc abc xyz a b.c",)], ["text"]
    )
    rows = T.bpe_pair_counts(df, "text", top_k=10).collect()
    counts = {r["pair"]: r["n"] for r in rows}
    assert counts["ab"] == 3 and counts["bc"] == 3
    assert counts["xy"] == 1 and counts["yz"] == 1
    assert "b." not in counts and ".c" not in counts


def test_pagerank_small_graph_hand_check(spark):
    """Path graph 1-2-3: symmetric PageRank must rank the middle node
    highest, ends equal by symmetry; total mass stays ~1."""
    from poc_parquet_publisher_spark.ops import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], ["u", "v"]
    )
    r = {row["node"]: row["rank"] for row in G.pagerank(edges).collect()}
    assert r[2] > r[1] and r[1] == r[3]
    assert abs(sum(r.values()) - 1.0) < 1e-9


def test_pagerank_mass_conserved_on_fixture(spark):
    """On the real co-purchase graph the rank vector must stay a
    probability distribution (no dangling nodes in a symmetric graph),
    and every rank must exceed the teleport floor (1-d)/n."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import graph as G

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    edges = G.symmetric_copurchase_edges(li)
    rows = G.pagerank(edges).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-6
    floor = 0.15 / len(rows)
    assert all(r["rank"] >= floor - 1e-12 for r in rows)


def test_bpe_learn_rewrites_between_iterations(spark):
    """Corpus 'aaab'x3: merge 1 must be <a>+<a> applied greedily
    leftmost ('a a a b' -> 'aa a b', NOT 'a aa b'); merge 2 must see
    the REWRITTEN words (tie between '<aa> <a>' and '<a> <b>' breaks
    lexicographic to '<a> <b>'); merge 3 then only exists because both
    prior rewrites happened ('<aa> <ab>')."""
    from poc_parquet_publisher_spark.ops import text as T

    df = spark.createDataFrame([("aaab aaab aaab",)], ["text"])
    rows = {r["it"]: r for r in T.bpe_learn_merges(df, "text").collect()}
    assert rows[1]["pair"] == "<a> <a>" and rows[1]["n"] == 6
    assert rows[2]["pair"] == "<a> <b>" and rows[2]["n"] == 3
    assert rows[3]["pair"] == "<aa> <ab>" and rows[3]["n"] == 3


def test_wau_sketch_tracks_exact_rolling_actives(spark):
    """x112 (mergeable per-day HLL union) vs x74 (exact grouped
    count-distinct): same day set, every day's estimate within the
    sketch's error envelope (lgConfigK=12 -> ~1.6% rsd; allow 5%)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x74_rolling_active_users,
        x112_wau_sketch,
    )

    exact = {
        r["day"]: r["wau"] for r in x74_rolling_active_users(spark, SF).collect()
    }
    est = {r["day"]: r["wau_est"] for r in x112_wau_sketch(spark, SF).collect()}
    assert set(exact) == set(est)
    assert exact, "fixture should produce rolling-active days"
    for day, wau in exact.items():
        assert abs(est[day] - wau) <= max(2, 0.05 * wau), (
            day, wau, est[day]
        )


def test_hll_native_within_error(spark):
    """x261 quality gate: every native-HLL estimate (per-lang and the
    merged union row) within 5% of the exact distinct count; the union
    row must also track the GLOBAL exact distinct (mergeability -- a
    union of per-lang sketches estimates the corpus, not the sum)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x261_hll_native,
    )

    docs = load_table(spark, SF, "documents")
    exact = {
        r.lang: r.n
        for r in docs.groupBy("lang")
        .agg(F.countDistinct(F.md5("text")).alias("n"))
        .collect()
    }
    exact["__union__"] = (
        docs.select(F.md5("text")).distinct().count()
    )
    rows = {r.scope: r.est_distinct for r in x261_hll_native(spark, SF).collect()}
    assert set(rows) == set(exact)
    for scope, est in rows.items():
        assert abs(est - exact[scope]) <= max(2, 0.05 * exact[scope]), (
            scope,
            est,
            exact[scope],
        )


def test_approx_top_k_matches_exact_heavy_hitters(spark):
    """x272 quality gate: with maxItemsTracked=10000 over a ~10k-token
    domain the sketch should be near-exact -- every reported count
    within 2% of the true count, and >= 8 of the true top-10 tokens
    present in the reported 10."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x272_approx_top_k,
    )

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= 1)
    exact = {
        r.tok: r.n
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(10)
        .collect()
    }
    approx = {
        r.token: r.approx_count
        for r in x272_approx_top_k(spark, SF).collect()
    }
    overlap = set(exact) & set(approx)
    assert len(overlap) >= 8, (sorted(exact), sorted(approx))
    for tok in overlap:
        assert abs(approx[tok] - exact[tok]) <= max(1, 0.02 * exact[tok])


def test_freq_items_never_misses_frequent_values(spark):
    """x285 quality gate: the freqItems guarantee -- every value whose
    true frequency exceeds the support threshold MUST appear in the
    result (false positives allowed, false negatives never)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x285_freq_items,
    )

    docs = load_table(spark, SF, "documents")
    total = docs.count()
    row = x285_freq_items(spark, SF).first()
    got = {
        "lang": set(row.langs.split(",")),
        "source": set(row.sources.split(",")),
    }
    for col in ("lang", "source"):
        frequent = {
            r[col]
            for r in docs.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
            if r.n > 0.1 * total
        }
        missing = frequent - got[col]
        assert not missing, (col, missing, got[col])


def test_isotonic_matches_sequential_pav(spark):
    """x356's minimax-formula isotonic fit must equal the classic
    sequential pool-adjacent-violators algorithm run on the same
    per-bin (count, positives) aggregate."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x356_isotonic_calibration,
    )

    rows = x356_isotonic_calibration(spark, SF).collect()
    assert len(rows) >= 3
    # sequential PAV on (n, pos) in bin order
    blocks = [
        [r["bin"], float(r["pos"]), float(r["n"])] for r in rows
    ]  # [id, pos_sum, n_sum]
    stack: list[list[float]] = []
    for blk in blocks:
        stack.append(list(blk))
        while (
            len(stack) >= 2
            and stack[-2][1] / stack[-2][2] >= stack[-1][1] / stack[-1][2]
        ):
            b = stack.pop()
            stack[-1][1] += b[1]
            stack[-1][2] += b[2]
    # expand pooled blocks back to per-bin fitted values: walk the
    # original bins, consuming each pooled block's total weight
    fitted: dict[int, float] = {}
    si = 0
    acc_n = 0.0
    for bid, ps, ns in blocks:
        fitted[bid] = stack[si][1] / stack[si][2]
        acc_n += ns
        if acc_n >= stack[si][2] - 1e-9:
            acc_n = 0.0
            si += 1
    for r in rows:
        assert abs(r["iso_rate"] - _round_hu(fitted[r["bin"]], 6)) <= 1e-9, (
            r,
            fitted[r["bin"]],
        )
    # monotone non-decreasing in bin
    iso = [r["iso_rate"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))


def test_kendall_tau_matches_naive_pair_count(spark):
    """x357's tau-b must equal a naive O(n^2) Python pair count over
    the same nation aggregate."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x357_kendall_tau,
    )
    import itertools

    row = x357_kendall_tau(spark, SF).collect()[0]
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    nat = load_table(spark, SF, "nation")
    pn = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    conc = disc = tx = ty = 0
    for a, b in itertools.combinations(sorted(pn, key=lambda r: r["n_name"]), 2):
        s = (a["rev"] - b["rev"]) * (a["cnt"] - b["cnt"])
        conc += s > 0
        disc += s < 0
        tx += a["rev"] == b["rev"]
        ty += a["cnt"] == b["cnt"]
    n0 = len(pn) * (len(pn) - 1) // 2
    assert row["n_pairs"] == n0
    assert row["concordant"] == conc and row["discordant"] == disc
    assert row["ties_x"] == tx and row["ties_y"] == ty
    import math

    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert abs(row["tau_b"] - _round_hu(tau, 6)) <= 1e-9


def test_cuped_reduces_variance_and_preserves_pool_mean(spark):
    """CUPED invariants on the fixture: rho^2 in [0, 1]; the
    user-weighted average of adjusted arm means equals the pooled
    mean outcome (the adjustment is mean-preserving); theta matches a
    numpy recomputation from the per-user frame."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x358_cuped_adjustment,
    )

    rows = {r["arm"]: r for r in x358_cuped_adjustment(spark, SF).collect()}
    assert set(rows) == {"control", "treat"}
    vr = rows["treat"]["var_reduction"]
    assert 0.0 <= vr <= 1.0
    ev = load_table(spark, SF, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, cents)), F.lit(0)).alias("x"),
            F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0)).alias("y"),
        )
        .collect()
    )
    x = np.array([r["x"] for r in u], dtype=np.float64)
    y = np.array([r["y"] for r in u], dtype=np.float64)
    n = len(x)
    cov = n * (x * y).sum() - x.sum() * y.sum()
    varx = n * (x * x).sum() - x.sum() ** 2
    theta = cov / varx
    assert abs(rows["treat"]["theta"] - _round_hu(theta, 8)) <= 1e-6
    # mean preservation: sum_a users_a * adj_mean_a == sum_a users_a * mean_a
    tot_users = sum(r["users"] for r in rows.values())
    raw = sum(r["users"] * r["mean_y"] for r in rows.values()) / tot_users
    adj = sum(r["users"] * r["adj_mean_y"] for r in rows.values()) / tot_users
    assert abs(raw - adj) <= 2e-4  # rounding of the 4-decimal means


def test_unimax_waterfilling_invariants(spark):
    """x362: capped sources get exactly their 4-epoch cap, uncapped
    sources share one waterline tau >= every capped cap, the total
    allocation hits the 2x-corpus budget, and no source exceeds 4
    epochs."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x362_unimax_allocation,
    )

    rows = x362_unimax_allocation(spark, SF).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = 2 * total
    capped = [r for r in rows if r["capped"] == 1]
    free = [r for r in rows if r["capped"] == 0]
    for r in capped:
        assert r["alloc_tokens"] == float(r["cap_tokens"])
        assert abs(r["epochs"] - 4.0) <= 1e-9
    if free:
        taus = {r["alloc_tokens"] for r in free}
        assert len(taus) == 1
        tau = taus.pop()
        assert all(r["cap_tokens"] <= tau + 0.01 for r in capped)
        got = sum(r["alloc_tokens"] for r in rows)
        assert abs(got - budget) <= 0.01 * len(rows)
    for r in rows:
        assert r["epochs"] <= 4.0 + 1e-9


def test_kruskal_wallis_matches_numpy_midranks(spark):
    """x363's H must match a numpy recomputation with scipy-style
    midranks and tie correction on the same binned values."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x363_kruskal_wallis,
    )

    rows = x363_kruskal_wallis(spark, SF).collect()
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    ov = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.floor(F.col("o_totalprice") / 100).cast("long").alias("v"),
            F.col("c_mktsegment").alias("g"),
        )
        .collect()
    )
    vals = sorted({r["v"] for r in ov})
    cnt = Counter(r["v"] for r in ov)
    midrank = {}
    before = 0
    for v in vals:
        midrank[v] = before + (cnt[v] + 1) / 2.0
        before += cnt[v]
    n = len(ov)
    by_g = defaultdict(list)
    for r in ov:
        by_g[r["g"]].append(midrank[r["v"]])
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in by_g.values()
    ) - 3 * (n + 1)
    ties = sum(c**3 - c for c in cnt.values())
    h_corr = h / (1 - ties / (n**3 - n))
    got = rows[0]
    assert abs(got["h_raw"] - h) <= 1e-3
    assert abs(got["h_tie_corrected"] - h_corr) <= 1e-3
    for r in rows:
        assert abs(
            r["mean_rank"]
            - sum(by_g[r["segment"]]) / len(by_g[r["segment"]])
        ) <= 1e-3


def test_pca_power_iteration_exact_replay_and_spectral_bounds(spark):
    """x364: the engine's 3-step power iteration must replay EXACTLY
    in numpy (same covariance, same per-step round-12), and its
    Rayleigh readout must obey the spectral bounds: mean eigenvalue
    (uniform-start floor) <= lambda_hat <= top eigenvalue. On this
    near-isotropic fixture explained_share ~ 1/64 is the correct
    diagnostic output, NOT a converged top component -- that is the
    documented contract."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x364_pca_power_iteration,
    )

    rows = x364_pca_power_iteration(spark, SF).collect()
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    lam = rows[0]["top_eigenvalue"]
    share = rows[0]["explained_share"]
    emb = load_table(spark, SF, "embeddings").collect()
    q = np.floor(
        np.array([r["embedding"] for r in emb], dtype=np.float64) * 1e6
    )
    n = q.shape[0]
    scat = (n * (q.T @ q) - np.outer(q.sum(0), q.sum(0))) / (
        n * (n - 1.0) * 1e12
    )
    c = np.round(scat, 12)
    vv = np.full(64, 0.125)
    nrm = None
    for _ in range(3):
        u = np.round(c * vv[None, :], 12).sum(axis=1)
        nrm = np.sqrt(np.round(u * u, 12).sum())
        vv = np.round(u / nrm, 12)
    assert np.max(np.abs(v - np.round(vv, 6))) <= 2e-6, "3-step replay"
    assert abs(lam - round(float(nrm), 6)) <= 1e-5
    w = np.linalg.eigvalsh(scat)
    assert w.mean() - 1e-9 <= lam <= w[-1] + 1e-9, (w.mean(), lam, w[-1])
    assert abs(share - lam / scat.trace()) <= 1e-3
    assert abs(float(np.linalg.norm(v)) - 1.0) <= 1e-4


def test_fairness_audit_threshold_and_invariants(spark):
    """x365: the in-query threshold equals x350's best-F1 threshold;
    disparate impact is <= 1 with the most-selected group at exactly
    1; confusion rates are consistent (tpr*n_pos <= sel)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x350_threshold_sweep,
        x365_fairness_audit,
    )

    sweep = {
        r["metric"]: r for r in x350_threshold_sweep(spark, SF).collect()
    }
    rows = x365_fairness_audit(spark, SF).collect()
    assert rows
    dis = [r["disparate_impact"] for r in rows]
    assert max(dis) == 1.0
    assert all(0.0 <= d <= 1.0 for d in dis)
    best_t = sweep["best_f1"]["threshold"]
    # recompute one group's selection count at that threshold
    docs = load_table(spark, SF, "documents")
    from poc_parquet_publisher_spark.ops import text as _text

    g0 = rows[0]
    sel = (
        docs.filter(F.col("source") == g0["source"])
        .filter(
            F.floor(_text.stop_ratio_column("text") * 10000 + F.lit(0.5))
            >= best_t
        )
        .count()
    )
    assert sel == g0["sel"]
    for r in rows:
        assert 0.0 <= r["tpr"] <= 1.0 and 0.0 <= r["fpr"] <= 1.0


def test_attribution_credit_conservation(spark):
    """x366: under every model the total assigned credit equals the
    number of purchases with at least one trailing-24h touch (linear
    up to per-purchase rounding); first/last assign exactly one
    touch per covered purchase."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x366_multitouch_attribution,
    )

    rows = x366_multitouch_attribution(spark, SF).collect()
    by_model = defaultdict(lambda: {"credit": 0.0, "touches": 0})
    for r in rows:
        by_model[r["model"]]["credit"] += r["credit"]
        by_model[r["model"]]["touches"] += r["n_touches"]
    covered = by_model["first_touch"]["touches"]
    assert covered > 0
    assert by_model["last_touch"]["touches"] == covered
    assert by_model["first_touch"]["credit"] == float(covered)
    assert by_model["last_touch"]["credit"] == float(covered)
    # linear credit sums to covered purchases modulo round-8 per touch
    assert abs(by_model["linear"]["credit"] - covered) <= 1e-3


def test_expectation_suite_all_pass_and_ref_recount(spark):
    """x367: the generated feed satisfies the contract (all rules
    pass); the referential-integrity count matches an independent
    anti-join recount."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x367_expectation_suite,
    )

    rows = {r["rule"]: r for r in x367_expectation_suite(spark, SF).collect()}
    assert len(rows) == 6
    n_orders = load_table(spark, SF, "orders").count()
    for r in rows.values():
        assert r["n_checked"] == n_orders
        assert r["pass"] == 1 and r["violations"] == 0, r
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    v_ref = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).count()
    assert rows["custkey_refs_customer"]["violations"] == v_ref


def test_nelson_aalen_consistent_with_kaplan_meier(spark):
    """x368: H(t) and its variance are nondecreasing; the
    Fleming-Harrington survival exp(-H) dominates the KM product
    estimator at every step (a known identity: 1-x <= exp(-x))."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x305_kaplan_meier,
        x368_nelson_aalen,
    )

    na = x368_nelson_aalen(spark, SF).collect()
    km = {r["lt_hours"]: r["survival"] for r in x305_kaplan_meier(spark, SF).collect()}
    hs = [r["cum_hazard"] for r in na]
    vs = [r["hazard_var"] for r in na]
    assert all(a <= b + 1e-12 for a, b in zip(hs, hs[1:]))
    assert all(a <= b + 1e-12 for a, b in zip(vs, vs[1:]))
    for r in na:
        assert r["lt_hours"] in km
        assert r["survival_fh"] >= km[r["lt_hours"]] - 1e-4, (
            r,
            km[r["lt_hours"]],
        )


def test_ipf_raking_margin_convergence(spark):
    """x369: after 2 rounds the COLUMN margins are exactly uniform
    (the column fit ran last), row margins are within the reported
    residual, and total weighted mass is preserved."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x369_ipf_raking,
    )

    rows = x369_ipf_raking(spark, SF).collect()
    tot = sum(r["n"] for r in rows)
    segs = defaultdict(float)
    nats = defaultdict(float)
    for r in rows:
        segs[r["segment"]] += r["weighted_n"]
        nats[r["nation"]] += r["weighted_n"]
    col_target = tot / len(segs)
    for s, m in segs.items():
        assert abs(m - col_target) <= 0.05, (s, m, col_target)
    row_target = tot / len(nats)
    max_dev = rows[0]["max_row_dev"]
    for nval, m in nats.items():
        assert abs(m / row_target - 1.0) <= max_dev + 1e-4
    assert abs(sum(r["weighted_n"] for r in rows) - tot) <= 0.5


def test_logrank_matches_python_replay(spark):
    """x370: O/E/V must match a pure-Python replay of the risk-set
    walk on the same (lifetime, group, observed) frame."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x370_logrank_test,
    )

    got = x370_logrank_test(spark, SF).collect()[0]
    ev = load_table(spark, SF, "events")
    g = F.when(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
            1,
            4,
        )
        < "8000",
        1,
    ).otherwise(0)
    u = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"), F.min("ts").alias("first_ts"))
        .select(
            F.expr(
                "CAST(timestampdiff(MICROSECOND, first_ts, last_ts) "
                "DIV 3600000000 AS BIGINT)"
            ).alias("lt"),
            "last_ts",
            g.alias("g"),
        )
    )
    mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    rows = u.select(
        "lt",
        "g",
        F.when(
            F.expr(
                f"timestampdiff(MICROSECOND, last_ts, timestamp '{mx}')"
            )
            > F.lit(86400000000),
            1,
        )
        .otherwise(0)
        .alias("obs"),
    ).collect()
    deaths = defaultdict(lambda: [0, 0])
    ending = defaultdict(lambda: [0, 0])
    for r in rows:
        ending[r["lt"]][r["g"]] += 1
        deaths[r["lt"]][r["g"]] += r["obs"]
    lts = sorted(ending)
    at_risk = [0, 0]
    o1 = e1 = v = 0.0
    for lt in reversed(lts):
        at_risk[0] += ending[lt][0]
        at_risk[1] += ending[lt][1]
        d = sum(deaths[lt])
        if d == 0:
            continue
        n = sum(at_risk)
        n1 = at_risk[1]
        o1 += deaths[lt][1]
        e1 += round(d * n1 / n, 12)
        if n > 1:
            v += round(
                d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1.0), 12
            )
    assert got["o1"] == int(o1)
    assert abs(got["e1"] - round(e1, 4)) <= 1e-8
    chi2 = (o1 - e1) ** 2 / v
    assert abs(got["chi2"] - round(chi2, 4)) <= 1e-6


def test_average_precision_bounds_and_sklearn_form(spark):
    """x371: AP is within [0, 1] (prevalence is the random-scorer
    BASELINE, not a floor -- an anti-correlated scorer scores below
    it, as this fixture's does); equals the step-form recomputation
    from the collected score aggregate."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x371_average_precision,
    )
    from poc_parquet_publisher_spark.ops import text as _text

    got = x371_average_precision(spark, SF).collect()[0]
    assert 0.0 <= got["average_precision"] <= 1.0
    docs = load_table(spark, SF, "documents")
    rows = docs.select(
        F.floor(_text.stop_ratio_column("text") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).collect()
    per_n = Counter(r["s"] for r in rows)
    per_p = Counter(r["s"] for r in rows if r["pos"])
    n_pos = sum(per_p.values())
    tp = pred = 0
    ap = 0.0
    for s in sorted(per_n, reverse=True):
        tp += per_p.get(s, 0)
        pred += per_n[s]
        if per_p.get(s, 0) > 0:
            ap += round((per_p[s] / n_pos) * (tp / pred), 10)
    assert abs(got["average_precision"] - round(ap, 6)) <= 1e-9


def test_embedding_js_bounded_and_symmetric_convention(spark):
    """x372: JS in [0, ln 2]; shares sum to 1 per group; histograms
    cover all assigned vectors."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x372_embedding_js_divergence,
    )

    rows = x372_embedding_js_divergence(spark, SF).collect()
    js = rows[0]["js_divergence"]
    assert 0.0 <= js <= math.log(2) + 1e-12
    assert abs(sum(r["share_a"] for r in rows) - 1.0) <= 1e-4
    assert abs(sum(r["share_b"] for r in rows) - 1.0) <= 1e-4
    n_total = load_table(spark, SF, "embeddings").count()
    assert sum(r["n_a"] + r["n_b"] for r in rows) == n_total


def test_join_size_histogram_identity(spark):
    """x373: the histogram dot product equals the MATERIALIZED
    view x purchase join size."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x373_join_size_estimation,
    )

    got = x373_join_size_estimation(spark, SF).collect()[0]
    ev = load_table(spark, SF, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u")
    )
    actual = v.join(p, "u").count()
    assert got["predicted_pairs"] == actual
    assert got["sample_estimate"] % 64 == 0


def test_substring_dedup_python_replay(spark):
    """x374: full pure-Python replay of the 30-gram cross-doc span
    audit at sf0.001 -- per-source doc counts, dup totals and mean
    fractions must match exactly."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x374_substring_dedup_spans,
    )

    rows = {r["source"]: r for r in x374_substring_dedup_spans(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    K = 30
    gram_docs = defaultdict(set)
    texts = {}
    for r in docs:
        lt = r["text"].lower()
        texts[r["doc_id"]] = (lt, r["source"])
        for i in range(len(lt) - K + 1):
            gram_docs[lt[i : i + K]].add(r["doc_id"])
    agg = defaultdict(lambda: [0, 0, 0, 0.0])  # n, with_dup, chars, fracsum
    for did, (lt, src) in texts.items():
        hits = [
            i
            for i in range(len(lt) - K + 1)
            if len(gram_docs[lt[i : i + K]]) >= 2
        ]
        dup = 0
        end = -1
        start = None
        for i in hits:
            if i > end:
                if start is not None:
                    dup += end - start + 1
                start = i
            end = max(end, i + K - 1)
        if start is not None:
            dup += end - start + 1
        a = agg[src]
        a[0] += 1
        a[1] += dup > 0
        a[2] += dup
        a[3] += round(dup / len(lt), 6)
    for src, (n, wd, chars, fr) in agg.items():
        r = rows[src]
        assert r["n_docs"] == n
        assert r["docs_with_dup"] == wd, (src, r["docs_with_dup"], wd)
        assert r["total_dup_chars"] == chars
        assert abs(r["mean_dup_fraction"] - round(fr / n, 4)) <= 1e-9


def test_prefix_filter_complete_vs_brute_force(spark):
    """x376: the prefix-filtered pair set must EQUAL the brute-force
    all-pairs shingle-Jaccard >= 0.6 set (prefix-filter lemma:
    blocking on the (s - ceil(0.6 s) + 1) rarest shingles loses no
    qualifying pair)."""
    import itertools

    from poc_parquet_publisher_spark.queries.extensions import (
        x376_prefix_filter_simjoin,
    )
    from poc_parquet_publisher_spark.ops import dedup

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in x376_prefix_filter_simjoin(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents")
    sets = {
        r["doc"]: frozenset(r["sh"])
        for r in dedup.shingle_arrays(docs, "doc_id", "text").collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= 0.6:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert len(want) > 0, "fixture must contain at least one qualifying pair"


def test_count_min_never_underestimates(spark):
    """x375: CMS one-sided error -- estimate >= exact for every
    reported user; the top-1 user's estimate matches a direct cell
    recount."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x375_count_min_sketch,
    )

    rows = x375_count_min_sketch(spark, SF).collect()
    # sf0.001 has fewer than 20 distinct users; the LIMIT caps, not pads
    assert 10 <= len(rows) <= 20
    for r in rows:
        assert r["overestimate"] >= 0
        assert r["estimate"] == r["exact_count"] + r["overestimate"]
    # direct recount of one hash row for the top user
    import hashlib

    top = rows[0]
    ev = load_table(spark, SF, "events").select("user_id").collect()

    def cell(u, j):
        return int(
            hashlib.md5(f"{u}:cm{j}".encode()).hexdigest()[29:32], 16
        ) % 1024

    c0 = cell(top["user_id"], 0)
    cnt0 = sum(1 for r in ev if cell(r["user_id"], 0) == c0)
    assert top["estimate"] <= cnt0


def test_dsir_discriminates_target_language(spark):
    """x377: the importance score must discriminate -- per-doc mean
    over en (target) docs exceeds the non-en mean (on average the
    target scores itself higher: E_t[ln(p_t/p_s)] approximates
    KL(t||s) >= 0 while non-target docs pick up the negative
    ratios)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x377_dsir_importance,
    )

    docs = load_table(spark, SF, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    )
    lm = tok.groupBy("w").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cs"),
    )
    t = lm.agg(
        F.sum("ct").alias("nt"),
        F.sum("cs").alias("ns"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    per = (
        tok.join(lm, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.log(
                    ((F.col("ct") + 1) * (t["ns"] + t["v"]))
                    / ((F.col("cs") + 1) * (t["nt"] + t["v"])).cast(
                        "double"
                    )
                )
            ).alias("score")
        )
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("score").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in per}
    assert means[True] > means[False], means
    # and the registry rollup runs green
    rows = x377_dsir_importance(spark, SF).collect()
    assert rows and all(r["n_docs"] > 0 for r in rows)


def test_bh_stepup_matches_python_replay(spark):
    """x378: the Benjamini-Hochberg cut must be the STEP-UP rule --
    reject ranks <= k* where k* = max{k : p_(k) <= alpha*k/m} -- not
    the naive per-test threshold. Replay the cut in Python from the
    emitted p-values and require the rejected flags to match row for
    row; also pin the ranking to p-then-brand order."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x378_benjamini_hochberg,
    )

    rows = x378_benjamini_hochberg(spark, SF).collect()
    assert rows, "no brand tests emitted"
    m = len(rows)
    assert all(r["rnk"] == i + 1 for i, r in enumerate(rows))
    order = sorted(rows, key=lambda r: (r["p_val"], r["brand"]))
    assert [r["brand"] for r in order] == [r["brand"] for r in rows]
    k_star = max(
        (r["rnk"] for r in rows if r["p_val"] <= 0.10 * r["rnk"] / m),
        default=0,
    )
    for r in rows:
        assert r["rejected"] == (1 if r["rnk"] <= k_star else 0), r
        assert abs(r["bh_threshold"] - _round_hu(0.10 * r["rnk"] / m, 8)) < 1e-12


def test_burrows_delta_is_a_metric(spark):
    """x379: Delta = mean |z_a - z_b| over a shared word panel is the
    L1 distance / panel size, hence a true metric on the per-source
    z-vectors: non-negative, and the triangle inequality must hold
    for every ordered triple of sources (1140 triples from 20
    sources). A panel-handling bug (e.g. dropping zero-variance words
    on only one side) breaks the shared-coordinate assumption and
    shows up here as a triangle violation."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x379_burrows_delta,
    )

    rows = x379_burrows_delta(spark, SF).collect()
    srcs = sorted({r["source_a"] for r in rows} | {r["source_b"] for r in rows})
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2, (len(rows), n)
    d = {}
    for r in rows:
        assert r["delta"] >= 0, r
        d[(r["source_a"], r["source_b"])] = r["delta"]
        d[(r["source_b"], r["source_a"])] = r["delta"]
    tol = 2e-4  # per-pair round-4 on delta
    for a in srcs:
        for b in srcs:
            for c in srcs:
                if len({a, b, c}) == 3:
                    assert d[(a, b)] <= d[(a, c)] + d[(c, b)] + tol, (a, b, c)


def test_bcubed_matches_per_item_replay(spark):
    """x380: the contingency-cell identity sum(n_ct^2/|c|)/N must equal
    the DEFINITION -- average over items of per-item precision
    |c(i) ∩ t(i)|/|c(i)| (and recall with |t(i)|). Replay per-item at
    sf0.001 in Python over the exact same cluster keys."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x380_bcubed_clusters,
    )

    docs = load_table(spark, SF, "documents")
    items = (
        docs.select(
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.array_distinct(F.split(F.lower(F.col("text")), " "))
                    ),
                    " ",
                )
            ).alias("c"),
            F.md5(F.lower(F.col("text"))).alias("t"),
        )
        .collect()
    )
    nc = Counter(r["c"] for r in items)
    nt = Counter(r["t"] for r in items)
    nct = Counter((r["c"], r["t"]) for r in items)
    prec = sum(nct[(r["c"], r["t"])] / nc[r["c"]] for r in items) / len(items)
    rec = sum(nct[(r["c"], r["t"])] / nt[r["t"]] for r in items) / len(items)
    out = x380_bcubed_clusters(spark, SF).collect()[0]
    assert out["n_docs"] == len(items)
    assert out["n_pred_clusters"] == len(nc)
    assert out["n_true_clusters"] == len(nt)
    assert abs(out["bcubed_precision"] - prec) < 1e-5, (out, prec)
    assert abs(out["bcubed_recall"] - rec) < 1e-5, (out, rec)
    f1 = 2 * prec * rec / (prec + rec)
    assert abs(out["bcubed_f1"] - f1) < 1e-5


def test_gopher_rules_match_python_replay_and_discriminate(spark):
    """x381: replay all five rules per-doc in pure Python and require
    the per-source funnel to match exactly; also require every rule to
    REJECT at least one doc corpus-wide (a rule that never fires is a
    thresholding bug, not a gate)."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x381_gopher_rules,
    )

    docs = load_table(spark, SF, "documents").select("source", "text")
    agg = defaultdict(lambda: Counter())
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    for r in docs.collect():
        toks = r["text"].lower().split(" ")
        nw = len(toks)
        lc = len(r["text"].replace(" ", ""))
        dset = set(toks)
        topc = max(toks.count(t) for t in dset)
        ok = {
            "fail_word_count": 30 <= nw <= 90,
            "fail_mean_word_len": 4 * nw <= lc <= 5 * nw,
            "fail_stopwords": len(dset & stop) >= 2,
            "fail_dup_tokens": 5 * len(dset) > 3 * nw,
            "fail_top_token": 8 * topc <= nw,
        }
        c = agg[r["source"]]
        c["n_docs"] += 1
        for k, v in ok.items():
            c[k] += 0 if v else 1
        c["pass_all"] += 1 if all(ok.values()) else 0
    out = x381_gopher_rules(spark, SF).collect()
    assert len(out) == len(agg)
    tot = Counter()
    for row in out:
        exp = agg[row["source"]]
        for k in ("n_docs", "fail_word_count", "fail_mean_word_len",
                  "fail_stopwords", "fail_dup_tokens", "fail_top_token",
                  "pass_all"):
            assert row[k] == exp[k], (row["source"], k, row[k], exp[k])
            tot[k] += row[k]
        assert abs(row["pass_rate"] - _round_hu(exp["pass_all"] / exp["n_docs"], 4)) < 1e-12
    for k in ("fail_word_count", "fail_mean_word_len", "fail_stopwords",
              "fail_dup_tokens", "fail_top_token"):
        assert tot[k] > 0, f"rule {k} never fires on the corpus"
    assert 0 < tot["pass_all"] < tot["n_docs"]


def test_spearman_matches_numpy_midrank_replay(spark):
    """x382: per-brand rho must equal Pearson correlation of midranks
    computed independently in numpy (scipy-free midrank construction:
    average position over each tie group)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x382_spearman_rho,
    )

    li = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pt = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    rows = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select("p_brand", "l_quantity", "l_extendedprice")
        .collect()
    )
    byb = defaultdict(list)
    for r in rows:
        byb[r["p_brand"]].append((r["l_quantity"], r["l_extendedprice"]))

    def midranks(vals):
        order = np.argsort(np.asarray(vals), kind="stable")
        ranks = np.empty(len(vals))
        sv = np.asarray(vals)[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0  # 1-based midrank
            i = j
        return ranks

    out = {r["brand"]: (r["n"], r["rho"]) for r in
           x382_spearman_rho(spark, SF).collect()}
    assert len(out) == len(byb)
    for brand, pairs in byb.items():
        q = [p[0] for p in pairs]
        p_ = [p[1] for p in pairs]
        rq, rp = midranks(q), midranks(p_)
        exp = float(np.corrcoef(rq, rp)[0, 1])
        n, rho = out[brand]
        assert n == len(pairs)
        assert abs(rho - exp) < 5e-6, (brand, rho, exp)


def test_kneser_ney_normalizes_and_matches_replay(spark):
    """x383: (a) the emitted top-20 P_KN values must match an exact-
    Fraction Python replay of the integer rational (no float in the
    model); (b) the interpolated model must NORMALIZE: for the three
    highest-count contexts w1, sum over the ENTIRE second-position
    vocab of P_KN(w2|w1) -- seen bigrams via the full formula, unseen
    via the continuation term alone -- equals exactly 1."""
    from collections import Counter
    from fractions import Fraction

    from poc_parquet_publisher_spark.queries.extensions import (
        x383_kneser_ney,
    )

    docs = load_table(spark, SF, "documents").select("text").collect()
    c12 = Counter()
    for r in docs:
        toks = r["text"].lower().split(" ")
        for i in range(len(toks) - 1):
            c12[(toks[i], toks[i + 1])] += 1
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    nt = len(c12)

    def pkn(w1, w2):
        c = c12.get((w1, w2), 0)
        return Fraction(
            max(4 * c - 3, 0) * nt + 3 * n1f[w1] * n1b[w2],
            4 * c1[w1] * nt,
        )

    out = x383_kneser_ney(spark, SF).collect()
    assert len(out) == 20
    exp_top = sorted(c12.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["w1"], r["w2"]) for r in out] == [k for k, _ in exp_top]
    for r in out:
        f = pkn(r["w1"], r["w2"])
        assert r["c12"] == c12[(r["w1"], r["w2"])]
        assert abs(r["p_kn"] - _round_hu(f.numerator / f.denominator, 8)) < 1e-12
        assert abs(r["p_mle"] - _round_hu(c12[(r["w1"], r["w2"])] / c1[r["w1"]], 8)) < 1e-12
    vocab2 = set(n1b)
    for w1, _ in sorted(c1.items(), key=lambda kv: (-kv[1], kv[0]))[:3]:
        total = sum(pkn(w1, w2) for w2 in vocab2)
        assert total == 1, (w1, total)


def test_mann_kendall_matches_python_replay(spark):
    """x384: replay S, the tie-corrected variance, and the continuity-
    corrected z in pure Python from the exact daily cent sums."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x384_mann_kendall,
    )

    ev = load_table(spark, SF, "events")
    rows = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v"))
        .collect()
    )
    series = defaultdict(list)
    for r in rows:
        series[r["event_type"]].append((r["day"], r["v"]))
    out = {r["event_type"]: r for r in x384_mann_kendall(spark, SF).collect()}
    assert set(out) == set(series)
    for et, pts in series.items():
        pts.sort()
        vs = [v for _, v in pts]
        n = len(vs)
        s = sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie: dict = {}
        for v in vs:
            tie[v] = tie.get(v, 0) + 1
        tt = sum(t * (t - 1) * (2 * t + 5) for t in tie.values() if t > 1)
        var18 = n * (n - 1) * (2 * n + 5) - tt
        if s > 0:
            z = (s - 1) / (var18 / 18.0) ** 0.5
        elif s < 0:
            z = (s + 1) / (var18 / 18.0) ** 0.5
        else:
            z = 0.0
        r = out[et]
        assert r["n_days"] == n and r["s_stat"] == s and r["var18"] == var18
        assert abs(r["z_mk"] - _round_hu(z, 6)) < 1e-12, (et, r["z_mk"], z)


def test_cmh_matches_python_replay(spark):
    """x385: replay the Mantel-Haenszel pooled odds ratio and the
    continuity-corrected CMH chi-square in pure Python from the exact
    per-region 2x2 cells the query itself emits."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x385_cmh_odds_ratio,
    )

    rows = x385_cmh_odds_ratio(spark, SF).collect()
    assert len(rows) == 5
    sn = sd = sa = se = sv = 0.0
    for r in rows:
        a, b, c, d = r["a"], r["b"], r["c"], r["d"]
        n = a + b + c + d
        sn += _round_hu(a * d / n, 10)
        sd += _round_hu(b * c / n, 10)
        sa += a
        se += _round_hu((a + b) * (a + c) / n, 10)
        sv += _round_hu(
            (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0)), 10
        )
        assert abs(r["or_stratum"] - _round_hu(a * d / (b * c), 4)) < 1e-12
    or_mh = _round_hu(sn / sd, 4)
    chi2 = _round_hu((abs(sa - se) - 0.5) ** 2 / sv, 4)
    for r in rows:
        assert abs(r["or_mh"] - or_mh) < 1e-9, (r["or_mh"], or_mh)
        assert abs(r["cmh_chi2"] - chi2) < 1e-3, (r["cmh_chi2"], chi2)


def test_qini_matches_python_replay(spark):
    """x386: replay the decile assignment (exact ntile semantics over
    the total order score DESC, user_id), the cumulative Qini curve,
    and the random-targeting diagonal in pure Python."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x386_qini_curve,
    )
    import hashlib

    ev = load_table(spark, SF, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .alias("score"),
        )
        .collect()
    )
    recs = sorted(users, key=lambda r: (-r["score"], r["user_id"]))
    n = len(recs)
    qsz, rem = divmod(n, 10)
    cum, out_exp = [0, 0, 0, 0], {}
    i = 0
    for t in range(1, 11):
        size = qsz + 1 if t <= rem else qsz
        nt = nc = ct = cc = 0
        for rec in recs[i:i + size]:
            treat = hashlib.md5(
                f"{rec['user_id']}:ab".encode()
            ).hexdigest()[:4] < "8000"
            if treat:
                nt += 1
                ct += rec["conv"]
            else:
                nc += 1
                cc += rec["conv"]
        i += size
        cum = [cum[0] + nt, cum[1] + nc, cum[2] + ct, cum[3] + cc]
        qini = cum[2] - (0.0 if cum[1] == 0 else cum[3] * cum[0] / cum[1])
        out_exp[t] = (nt, nc, ct, cc, qini, list(cum))
    q_final = out_exp[10][4]
    got = x386_qini_curve(spark, SF).collect()
    assert len(got) == 10
    for r in got:
        nt, nc, ct, cc, qini, _ = out_exp[r["decile"]]
        assert (r["n_t"], r["n_c"], r["conv_t"], r["conv_c"]) == (nt, nc, ct, cc), r
        assert abs(r["qini_k"] - _round_hu(qini, 6)) < 1e-9
        assert abs(r["diag_k"] - _round_hu(q_final * r["decile"] / 10.0, 6)) < 1e-9


def test_cronbach_alpha_matches_python_replay(spark):
    """x387: replay alpha from per-doc indicator vectors in pure
    Python (population variances; binary identity var = (n*s-s^2)/n^2)
    and pin every emitted column."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x387_cronbach_alpha,
    )

    docs = load_table(spark, SF, "documents").select("text").collect()
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    vecs = []
    for r in docs:
        toks = r["text"].lower().split(" ")
        nw, lc, dset = len(toks), len(r["text"].replace(" ", "")), set(toks)
        topc = max(toks.count(t) for t in dset)
        vecs.append((
            1 if 30 <= nw <= 90 else 0,
            1 if 4 * nw <= lc <= 5 * nw else 0,
            1 if len(dset & stop) >= 2 else 0,
            1 if 5 * len(dset) > 3 * nw else 0,
            1 if 8 * topc <= nw else 0,
        ))
    n = len(vecs)
    s = [sum(v[i] for v in vecs) for i in range(5)]
    sx = sum(sum(v) for v in vecs)
    sx2 = sum(sum(v) ** 2 for v in vecs)
    ivars = [(n * si - si * si) / (n * n) for si in s]
    tvar = (n * sx2 - sx * sx) / (n * n)
    alpha = (5 / 4) * (1 - sum(n * si - si * si for si in s)
                       / (n * sx2 - sx * sx))
    names = ["word_count", "mean_word_len", "stopwords", "dup_tokens",
             "top_token"]
    order = {"word_count": 0, "mean_word_len": 1, "stopwords": 2,
             "dup_tokens": 3, "top_token": 4}
    out = x387_cronbach_alpha(spark, SF).collect()
    assert sorted(r["item"] for r in out) == sorted(names)
    for r in out:
        i = order[r["item"]]
        assert r["item_sum"] == s[i]
        assert abs(r["item_var"] - _round_hu(ivars[i], 8)) < 1e-12
        assert abs(r["total_var"] - _round_hu(tvar, 8)) < 1e-12
        assert abs(r["cronbach_alpha"] - _round_hu(alpha, 6)) < 1e-12
    # a reliability coefficient must land in a sane range on real data
    assert -1.0 <= out[0]["cronbach_alpha"] <= 1.0


def test_unpivot_roundtrips_to_wide(spark):
    """x388: melting the wide brand-metric table then pivoting back
    must reproduce the wide table exactly (unpivot is reshape sugar,
    not an aggregation)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x388_unpivot_melt,
    )

    rows = x388_unpivot_melt(spark, SF).collect()
    assert len(rows) % 3 == 0
    wide = {}
    for r in rows:
        wide.setdefault(r["brand"], {})[r["metric"]] = r["val"]
    for brand, m in wide.items():
        assert set(m) == {"sum_qty", "sum_price_c", "sum_disc_c"}, brand
        assert all(isinstance(v, int) for v in m.values())
    # cross-check one metric against an independent aggregate
    li = load_table(spark, SF, "lineitem")
    pt = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    chk = {
        r["p_brand"]: r["sq"]
        for r in li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
        .collect()
    }
    for brand, m in wide.items():
        assert m["sum_qty"] == chk[brand]


def test_silhouette_matches_numpy_replay(spark):
    """x389: replay the simplified silhouette with numpy following the
    exact rounding pipeline (round-6 squared distances, min-cid ties,
    round-8 per-point s), and require every mean in [-1, 1]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x389_silhouette,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    cents = {i: V[i] for i in range(10) if i in V}
    acc = defaultdict(list)
    for vid, v in V.items():
        d2 = {
            cid: _round_hu(
                float(v @ v) - 2 * float(v @ cv) + float(cv @ cv), 6
            )
            for cid, cv in cents.items()
        }
        a2 = min(d2.values())
        own = min(cid for cid, x in d2.items() if x == a2)
        b2 = min(x for cid, x in d2.items() if cid != own)
        ra, rb = a2 ** 0.5, b2 ** 0.5
        sil = 0.0 if max(ra, rb) == 0 else (rb - ra) / max(ra, rb)
        acc[own].append(_round_hu(sil, 8))
    out = x389_silhouette(spark, SF).collect()
    assert {r["cid"] for r in out} == set(acc)
    for r in out:
        exp = _round_hu(sum(acc[r["cid"]]) / len(acc[r["cid"]]), 6)
        assert r["n_points"] == len(acc[r["cid"]])
        assert abs(r["mean_silhouette"] - exp) < 1e-9, (r, exp)
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def _rule_indicators(spark):
    """Shared pure-Python replay of x381's five rule indicators."""
    docs = load_table(spark, SF, "documents").select("text").collect()
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    vecs = []
    for r in docs:
        toks = r["text"].lower().split(" ")
        nw, lc, dset = len(toks), len(r["text"].replace(" ", "")), set(toks)
        topc = max(toks.count(t) for t in dset)
        vecs.append((
            1 if 30 <= nw <= 90 else 0,
            1 if 4 * nw <= lc <= 5 * nw else 0,
            1 if len(dset & stop) >= 2 else 0,
            1 if 5 * len(dset) > 3 * nw else 0,
            1 if 8 * topc <= nw else 0,
        ))
    return vecs


def test_mcnemar_matches_python_replay(spark):
    """x390: cells and the continuity-corrected statistic replay from
    the paired per-doc indicators (rules 1 and 3)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x390_mcnemar_test,
    )

    vecs = _rule_indicators(spark)
    b = sum(1 for v in vecs if v[0] == 1 and v[2] == 0)
    c = sum(1 for v in vecs if v[0] == 0 and v[2] == 1)
    r = x390_mcnemar_test(spark, SF).collect()[0]
    assert r["n"] == len(vecs)
    assert (r["b_cell"], r["c_cell"]) == (b, c)
    assert r["both_pass"] == sum(1 for v in vecs if v[0] and v[2])
    exp = 0.0 if b + c == 0 else (abs(b - c) - 1) ** 2 / (b + c)
    assert abs(r["mcnemar_chi2"] - _round_hu(exp, 6)) < 1e-12
    assert b + c > 0, "no discordant pairs -- rule pair uninformative"


def test_fleiss_kappa_matches_python_replay(spark):
    """x391: P_bar, P_e and kappa replay from per-doc vote counts; the
    identity P_i = (X(X-1)+(5-X)(4-X))/20 is checked against the
    definitional sum over categories."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x391_fleiss_kappa,
    )

    vecs = _rule_indicators(spark)
    n, k = len(vecs), 5
    xs = [sum(v) for v in vecs]
    for x in xs[:50]:  # identity check per doc
        by_cat = x * (x - 1) + (k - x) * (k - 1 - x)
        assert by_cat == sum(c * (c - 1) for c in (x, k - x))
    p_bar = sum(x * (x - 1) + (k - x) * (k - 1 - x) for x in xs) / (
        n * k * (k - 1)
    )
    p_pass = sum(xs) / (n * k)
    p_e = p_pass**2 + (1 - p_pass) ** 2
    kappa = (p_bar - p_e) / (1 - p_e)
    r = x391_fleiss_kappa(spark, SF).collect()[0]
    assert r["n"] == n and r["sx"] == sum(xs)
    assert abs(r["p_bar"] - _round_hu(p_bar, 6)) < 1e-12
    assert abs(r["p_e"] - _round_hu(p_e, 6)) < 1e-12
    assert abs(r["fleiss_kappa"] - _round_hu(kappa, 6)) < 1e-9


def test_levene_and_anova_match_python_replay(spark):
    """x392/x393: Levene's W and the one-way F replay in pure Python
    from the exact cent values; cross-check eta^2 in [0,1] and the
    mean columns."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x392_levene_test,
        x393_anova_oneway,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("x")
    ).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["x"])
    # ANOVA
    nn = sum(len(v) for v in groups.values())
    k = len(groups)
    gt = sum(sum(v) for v in groups.values())
    qq = sum(x * x for v in groups.values() for x in v)
    st2n = sum(_round_hu(sum(v) ** 2 / len(v), 6) for v in groups.values())
    ssb = st2n - gt * gt / nn
    ssw = qq - st2n
    f_exp = (ssb / (k - 1)) / (ssw / (nn - k))
    eta = ssb / (qq - gt * gt / nn)
    out_a = x393_anova_oneway(spark, SF).collect()
    for r in out_a:
        v = groups[r["event_type"]]
        assert r["n"] == len(v)
        assert abs(r["mean_value"] - _round_hu(sum(v) / len(v) / 100.0, 6)) < 1e-9
        assert abs(r["anova_f"] - _round_hu(f_exp, 6)) < 1e-6
        assert abs(r["eta_squared"] - _round_hu(eta, 6)) < 1e-9
        assert 0.0 <= r["eta_squared"] <= 1.0
    # Levene (mean-centered) via the integer identity u = |n*x - s|
    zsum, ssw_i = {}, {}
    for et, v in groups.items():
        ng, s = len(v), sum(v)
        us = [abs(ng * x - s) for x in v]
        zsum[et] = _round_hu(sum(us) / ng, 10)
        ssw_i[et] = _round_hu(
            sum(u * u for u in us) / ng**2 - (sum(us) / ng) ** 2 / ng, 8
        )
    zt = sum(zsum.values())
    sswt = sum(ssw_i.values())
    zbar = zt / nn
    ssb_l = sum(
        _round_hu(len(groups[et]) * (zsum[et] / len(groups[et]) - zbar) ** 2, 8)
        for et in groups
    )
    w_exp = (nn - k) / (k - 1) * ssb_l / sswt
    out_l = x392_levene_test(spark, SF).collect()
    for r in out_l:
        et = r["event_type"]
        assert r["n"] == len(groups[et])
        assert abs(
            r["mean_abs_dev"]
            - _round_hu(zsum[et] / len(groups[et]) / 100.0, 6)
        ) < 1e-9
        assert abs(r["levene_w"] - _round_hu(w_exp, 6)) < 1e-6


def test_partial_correlation_matches_numpy(spark):
    """x394: r_xy.z replays against numpy Pearson correlations on the
    exact cent values per flag; identity-check the partial formula by
    regressing out z explicitly (residual correlation)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x394_partial_correlation,
    )

    li = load_table(spark, SF, "lineitem")
    rows = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    ).collect()
    g = defaultdict(list)
    for r in rows:
        g[r["flag"]].append((r["x"], r["y"], r["z"]))
    out = {r["flag"]: r for r in x394_partial_correlation(spark, SF).collect()}
    assert set(out) == set(g)
    for flag, pts in g.items():
        a = np.array(pts, dtype=np.float64)
        rxy = np.corrcoef(a[:, 0], a[:, 1])[0, 1]
        rxz = np.corrcoef(a[:, 0], a[:, 2])[0, 1]
        ryz = np.corrcoef(a[:, 1], a[:, 2])[0, 1]
        part = (rxy - rxz * ryz) / np.sqrt((1 - rxz**2) * (1 - ryz**2))
        # independent residual-correlation identity
        rx = a[:, 0] - np.polyval(np.polyfit(a[:, 2], a[:, 0], 1), a[:, 2])
        ry = a[:, 1] - np.polyval(np.polyfit(a[:, 2], a[:, 1], 1), a[:, 2])
        assert abs(np.corrcoef(rx, ry)[0, 1] - part) < 1e-9
        r = out[flag]
        assert r["n"] == len(pts)
        for col, exp in (("r_xy", rxy), ("r_xz", rxz), ("r_yz", ryz),
                         ("r_xy_given_z", part)):
            assert abs(r[col] - exp) < 5e-6, (flag, col, r[col], exp)


def test_kn_heldout_perplexity_matches_python_replay(spark):
    """x395: full pure-Python replay -- train KN counts on doc_id%10<8,
    score held-out bigrams with the same integer rational + Laplace
    continuation backoff and the round-8 type-level ln pipeline."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x395_kn_heldout_perplexity,
    )

    rows = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    c12 = Counter()
    ho = defaultdict(Counter)
    for r in rows:
        toks = r["text"].lower().split(" ")
        if len(toks) < 2:
            continue
        grams = list(zip(toks, toks[1:]))
        if r["doc_id"] % 10 < 8:
            c12.update(grams)
        else:
            ho[r["source"]].update(grams)
    c1, n1f, n1b = Counter(), Counter(), Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    nt, v2 = len(c12), len(n1b) + 1
    out = {r["source"]: r
           for r in x395_kn_heldout_perplexity(spark, SF).collect()}
    assert set(out) == set(ho)
    for src, grams in ho.items():
        tot = sum(grams.values())
        oov = sum(c for (w1, _), c in grams.items() if w1 not in c1)
        slp = 0.0
        for (w1, w2), c in grams.items():
            if w1 not in c1:
                p = (n1b.get(w2, 0) + 1) / (nt + v2)
            else:
                p = (
                    max(4 * c12.get((w1, w2), 0) - 3, 0) * (nt + v2)
                    + 3 * n1f[w1] * (n1b.get(w2, 0) + 1)
                ) / (4.0 * c1[w1] * (nt + v2))
            assert p > 0
            slp += c * _round_hu(math.log(p), 8)
        ppl = math.exp(-slp / tot)
        r = out[src]
        assert r["n_bigrams"] == tot
        assert abs(r["oov_context_rate"] - _round_hu(oov / tot, 6)) < 1e-12
        assert abs(r["kn_perplexity"] - _round_hu(ppl, 4)) < 1e-6, (
            src, r["kn_perplexity"], ppl
        )
        assert r["kn_perplexity"] > 1.0


def test_burstiness_matches_python_replay(spark):
    """x396: VMR replays from per-(term, doc) counts with zeros
    included -- the identity (N*Q - S^2)/(N*S) is checked against the
    DEFINITIONAL population variance over all docs / mean."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x396_term_burstiness,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    n_docs = len(rows)
    per = defaultdict(Counter)
    for r in rows:
        for w in r["text"].lower().split(" "):
            per[w][r["doc_id"]] += 1
    out = x396_term_burstiness(spark, SF).collect()
    assert len(out) == 20
    tf_sorted = sorted(
        ((sum(c.values()), w) for w, c in per.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    assert [r["term"] for r in out] == [w for _, w in tf_sorted]
    for r in out:
        c = per[r["term"]]
        s, q, df = sum(c.values()), sum(v * v for v in c.values()), len(c)
        assert (r["tf"], r["df"]) == (s, df)
        # identity vs definitional variance over ALL docs incl. zeros
        vals = list(c.values()) + [0] * (n_docs - df)
        mean = sum(vals) / n_docs
        var = sum((v - mean) ** 2 for v in vals) / n_docs
        assert abs((n_docs * q - s * s) / (n_docs * s) - var / mean) < 1e-9
        assert abs(r["vmr"] - _round_hu(var / mean, 6)) < 1e-9


def test_mattr_matches_python_replay(spark):
    """x397: per-doc MATTR(50) and TTR replay exactly; MATTR of a
    repetitive doc must sit below MATTR of a same-length diverse doc
    (the discrimination property)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x397_mattr_diversity,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    exp = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        n = len(toks)
        ttr = len(set(toks)) / n
        if n <= 50:
            mattr = ttr
        else:
            wins = [len(set(toks[i:i + 50])) for i in range(n - 50 + 1)]
            mattr = sum(wins) / (50.0 * (n - 50 + 1))
        exp[r["doc_id"]] = (n, _round_hu(ttr, 6), _round_hu(mattr, 6))
    out = x397_mattr_diversity(spark, SF).collect()
    assert len(out) == len(exp)
    for r in out:
        n, ttr, mattr = exp[r["doc_id"]]
        assert r["n_toks"] == n
        assert abs(r["ttr"] - ttr) < 1e-12, r
        assert abs(r["mattr_50"] - mattr) < 1e-12, r
        assert 0.0 < r["mattr_50"] <= 1.0


def test_dedup_ppl_impact_consistency(spark):
    """x398: ppl_raw must equal x395's perplexity on the same split
    (same model, same scoring), and the dedup'd model must differ
    from the raw one iff the train split actually contains exact
    dups (verified independently)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x395_kn_heldout_perplexity,
        x398_dedup_ppl_impact,
    )

    out = {r["source"]: r for r in x398_dedup_ppl_impact(spark, SF).collect()}
    ref = {r["source"]: r
           for r in x395_kn_heldout_perplexity(spark, SF).collect()}
    assert set(out) == set(ref)
    for src, r in out.items():
        assert r["n_bigrams"] == ref[src]["n_bigrams"]
        assert abs(r["ppl_raw"] - ref[src]["kn_perplexity"]) < 1e-9, src
        assert abs(r["ppl_delta"] - _round_hu(r["ppl_raw"] - r["ppl_dedup"], 4)) < 1e-9
    train = load_table(spark, SF, "documents").filter(
        (F.col("doc_id") % 10 < 8)
        & (F.size(F.split(F.lower(F.col("text")), " ")) >= 2)
    )
    n_all = train.count()
    n_uniq = train.select(F.md5(F.lower(F.col("text")))).distinct().count()
    has_dups = n_all > n_uniq
    any_delta = any(r["ppl_delta"] != 0.0 for r in out.values())
    assert any_delta == has_dups, (n_all, n_uniq, any_delta)


def test_holm_stepdown_matches_replay_and_nests_in_bh(spark):
    """x399: replay the step-DOWN walk (reject while p_(k) <=
    alpha/(m-k+1), stop at first failure) from the emitted p-values;
    and assert the theory guarantee Holm-rejects ⊆ BH-rejects on the
    identical test family (FWER control is never more permissive
    than FDR control at the same alpha)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x378_benjamini_hochberg,
        x399_holm_bonferroni,
    )

    rows = x399_holm_bonferroni(spark, SF).collect()
    m = len(rows)
    assert all(r["rnk"] == i + 1 for i, r in enumerate(rows))
    rejecting = True
    for r in rows:
        thr = 0.10 / (m - r["rnk"] + 1)
        assert abs(r["holm_threshold"] - _round_hu(thr, 8)) < 1e-12
        if rejecting and r["p_val"] > thr:
            rejecting = False
        assert r["rejected"] == (1 if rejecting else 0), r
    holm_rej = {r["brand"] for r in rows if r["rejected"]}
    bh = x378_benjamini_hochberg(spark, SF).collect()
    bh_rej = {r["brand"] for r in bh if r["rejected"]}
    assert holm_rej <= bh_rej, (holm_rej - bh_rej)
    # the same z/p values underlie both entries
    assert {(r["brand"], r["p_val"]) for r in rows} == {
        (r["brand"], r["p_val"]) for r in bh
    }


def test_cliffs_delta_matches_bruteforce_pairs(spark):
    """x400: the rank-identity delta must equal the DEFINITIONAL
    (#(x>y) - #(x<y))/(n1*n2) over all returned x kept pairs,
    brute-forced in numpy per brand at sf0.001."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x400_cliffs_delta,
    )

    li = load_table(spark, SF, "lineitem")
    pt = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    rows = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select(
            "p_brand",
            (F.col("l_returnflag") == "R").alias("is_r"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("c"),
        )
        .collect()
    )
    g = defaultdict(lambda: ([], []))
    for r in rows:
        g[r["p_brand"]][0 if r["is_r"] else 1].append(r["c"])
    out = {r["brand"]: r for r in x400_cliffs_delta(spark, SF).collect()}
    for brand, (xs, ys) in g.items():
        if not xs or not ys:
            assert brand not in out
            continue
        x = np.asarray(xs)[:, None]
        y = np.asarray(ys)[None, :]
        gt = int((x > y).sum())
        lt = int((x < y).sum())
        delta = (gt - lt) / (len(xs) * len(ys))
        auc = (gt + 0.5 * ((x == y).sum())) / (len(xs) * len(ys))
        r = out[brand]
        assert (r["n1"], r["n2"]) == (len(xs), len(ys))
        assert abs(r["cliffs_delta"] - _round_hu(delta, 6)) < 1e-9, brand
        assert abs(r["auc_u"] - _round_hu(auc, 6)) < 1e-9, brand
        assert -1.0 <= r["cliffs_delta"] <= 1.0


def test_eb_shrinkage_matches_replay_and_contracts(spark):
    """x401: replay the method-of-moments prior and the per-part
    shrinkage in Python; and verify the CONTRACT of shrinkage --
    every part's shrunk rate lies strictly between its raw rate and
    the prior mean (it is a convex combination of the two)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x401_eb_shrinkage,
    )

    li = load_table(spark, SF, "lineitem")
    pt = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    rows = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .groupBy("l_partkey", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r"),
        )
        .collect()
    )
    p8s = [round(r["r"] * 1e8 / r["n"]) for r in rows]
    np_, sp, sp2 = len(p8s), sum(p8s), sum(x * x for x in p8s)
    m = sp / np_ / 1e8
    v = sp2 / np_ / 1e16 - m * m
    assert v > 0
    ab = m * (1 - m) / v - 1
    a, b = ab * m, ab * (1 - m)
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for row, p8 in zip(rows, p8s):
        shr = _round_hu((a + row["r"]) / (a + b + row["n"]), 8)
        # convex-combination contract (tolerate the round-8)
        lo, hi = sorted((p8 / 1e8, m))
        assert lo - 1e-7 <= shr <= hi + 1e-7, (row, shr, m)
        c = agg[row["p_brand"]]
        c[0] += 1
        c[1] += p8
        c[2] += shr
    out = x401_eb_shrinkage(spark, SF).collect()
    for r in out:
        c = agg[r["brand"]]
        assert r["n_parts"] == c[0]
        assert abs(r["mean_raw_rate"] - _round_hu(c[1] / c[0] / 1e8, 6)) < 1e-12
        assert abs(r["mean_shrunk_rate"] - _round_hu(c[2] / c[0], 6)) < 1e-9
        assert abs(r["prior_a"] - _round_hu(a, 4)) < 1e-12
        assert abs(r["prior_b"] - _round_hu(b, 4)) < 1e-12


def test_transpose_matches_wide_aggregate(spark):
    """x402: the transposed frame must contain exactly the wide
    aggregate's cells, flipped; verified against an independent
    groupBy."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x402_transpose,
    )

    li = load_table(spark, SF, "lineitem")
    wide = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .alias("sum_price_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .collect()
    }
    out = x402_transpose(spark, SF).collect()
    assert [r["key"] for r in out] == ["n_items", "sum_price_c", "sum_qty"]
    for r in out:
        for flag in wide:
            assert r[flag] == wide[flag][r["key"]], (r["key"], flag)


def test_recursive_cte_spine_is_complete(spark):
    """x403: the recursive spine must enumerate EVERY calendar day in
    [min, max], mark exactly the days absent from the daily aggregate
    as gaps, and zero-fill their counts."""
    import datetime

    from poc_parquet_publisher_spark.queries.extensions import (
        x403_recursive_cte,
    )

    ev = load_table(spark, SF, "events")
    daily = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = x403_recursive_cte(spark, SF).collect()
    d0, d1 = min(daily), max(daily)
    expected_days = [
        d0 + datetime.timedelta(days=i) for i in range((d1 - d0).days + 1)
    ]
    assert [r["day"] for r in out] == expected_days
    for r in out:
        assert r["n_events"] == daily.get(r["day"], 0)
        assert r["is_gap"] == (0 if r["day"] in daily else 1)


def test_logistic_newton_matches_numpy(spark):
    """x405: the emitted coefficients must equal one Newton step from
    beta=0 computed with numpy linear algebra: beta = 2 (X'X)^-1
    X'(2y-1); also verify against the equivalent 4 (X'X)^-1 X'(y-1/2)
    form and that the step direction increases the log-likelihood."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x405_logistic_newton,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x2"),
    ).collect()
    X = np.array([[r["x1"], r["x2"], 1.0] for r in rows])
    y = np.array([r["y"] for r in rows], dtype=np.float64)
    beta = 2.0 * np.linalg.solve(X.T @ X, X.T @ (2 * y - 1))
    beta2 = 4.0 * np.linalg.solve(X.T @ X, X.T @ (y - 0.5))
    assert np.allclose(beta, beta2)
    r = x405_logistic_newton(spark, SF).collect()[0]
    assert r["n_users"] == len(rows)
    got = np.array([r["beta_views"], r["beta_clicks"], r["beta_intercept"]])
    assert np.allclose(got, beta, atol=5e-7), (got, beta)
    # one Newton step from 0 must improve the log-likelihood
    def ll(b):
        z = X @ b
        return float(np.sum(y * z - np.log1p(np.exp(z))))
    assert ll(beta) > ll(np.zeros(3))


def test_embedding_separability_matches_numpy(spark):
    """x406: within-class dispersion, centroid norms and the Fisher F
    replay against numpy scatter matrices (trace form) computed on the
    same scale-4 quantized components; identity check: trace-SSW +
    trace-SSB == total scatter."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x406_embedding_separability,
    )

    emb = load_table(spark, SF, "embeddings").select("label", "embedding")
    rows = emb.collect()
    by = {}
    for r in rows:
        v = np.round(np.array(r["embedding"], dtype=np.float64) * 1e4)
        by.setdefault(r["label"], []).append(v)
    out = {r["label"]: r for r in
           x406_embedding_separability(spark, SF).collect()}
    assert set(out) == set(by)
    nn = sum(len(v) for v in by.values())
    k = len(by)
    mu_all = sum(np.sum(np.stack(v), axis=0) for v in by.values()) / nn
    ssw = ssb = tot = 0.0
    for lab, vecs in by.items():
        A = np.stack(vecs)
        n = len(vecs)
        mu = A.mean(axis=0)
        w = float(((A - mu) ** 2).sum())
        ssw += w
        ssb += n * float(((mu - mu_all) ** 2).sum())
        tot += float(((A - mu_all) ** 2).sum())
        r = out[lab]
        assert r["n_vecs"] == n
        assert abs(r["within_disp"] - _round_hu(w / n / 1e8, 6)) < 2e-6, lab
        assert abs(
            r["centroid_norm"] - _round_hu(np.linalg.norm(mu) / 1e4, 6)
        ) < 2e-6, lab
    assert abs(ssw + ssb - tot) < 1e-3 * tot  # scatter decomposition
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    for r in out.values():
        assert abs(r["fisher_f"] - _round_hu(f, 4)) < 2e-3, (
            r["fisher_f"], f
        )


def test_greedy_cover_matches_python_replay(spark):
    """x407: replay PLAIN round-per-round greedy max-cover in pure
    Python from the (doc, universe-shingle) pairs -- the round-10
    verdict's CELF equivalence gate: the lazy-greedy (CELF)
    implementation must select the IDENTICAL (doc, gain) sequence
    plain greedy does, tie-broken (gain desc, doc_id asc). Marginal
    gains must also be non-increasing (coverage is submodular)."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x407_greedy_vocab_cover,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    freq = Counter()
    doc_sh = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        doc_sh[r["doc_id"]] = sh
        for g in (" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)):
            freq[g] += 1
    uni = {g for g, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:200]}
    pairs = {d: s & uni for d, s in doc_sh.items()}
    covered: set = set()
    exp = []
    cum = 0
    for rnd in range(1, 9):
        best = max(
            ((len(s - covered), -d) for d, s in pairs.items()),
            default=(0, 0),
        )
        gain, doc = best[0], -best[1]
        if gain == 0:
            break
        covered |= pairs[doc]
        cum += gain
        exp.append((rnd, doc, gain, cum, round(cum / len(uni), 4)))
    out = [tuple(r) for r in x407_greedy_vocab_cover(spark, SF).collect()]
    assert out == exp, (out[:3], exp[:3])
    gains = [g for _, _, g, _, _ in out]
    assert gains == sorted(gains, reverse=True), gains


def test_lsh_tuning_curve_matches_python_replay(spark):
    """x408: full md5-level replay of the calibration sweep -- for each
    doc and prefix fraction, recompute the 4 band keys on both sides
    from raw md5 digests, the exact Jaccard |pref|/|full|, and the
    binned empirical/theory rates; the empirical curve must also be
    monotone non-decreasing across occupied bins (it estimates a
    monotone function of j)."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x408_lsh_tuning_curve,
    )

    rows = load_table(spark, SF, "documents").select("text").collect()

    def bands(grams):
        sigs = []
        for salt in (0, 1):
            digs = [hashlib.md5(f"{salt}:{g}".encode()).hexdigest()
                    for g in grams]
            for off in (0, 8, 16, 24):
                sigs.append(min(d[off:off + 8] for d in digs))
        return [sigs[2 * b] + sigs[2 * b + 1] for b in range(4)]

    acc = defaultdict(lambda: [0, 0, 0.0])  # bin -> [n, ncol, theory_sum]
    for r in rows:
        toks = r["text"].lower().split(" ")
        n = len(toks)
        if n < 15:
            continue
        grams = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
        bf = bands(grams)
        nf = len(set(grams))
        for q in range(2, 10):
            npref = (n * q) // 10 - 2
            if npref < 1:
                continue
            pref = grams[:npref]
            bp = bands(pref)
            j = len(set(pref)) / nf
            col = any(a == b for a, b in zip(bf, bp))
            b = min(int(j * 10), 9)
            acc[b][0] += 1
            acc[b][1] += 1 if col else 0
            acc[b][2] += _round_hu(1 - (1 - j * j) ** 4, 8)
    out = x408_lsh_tuning_curve(spark, SF).collect()
    assert {r["bin"] for r in out} == set(acc)
    for r in out:
        n, ncol, tsum = acc[r["bin"]]
        assert r["n_pairs"] == n
        assert r["n_collided"] == ncol, (r["bin"], r["n_collided"], ncol)
        assert abs(r["empirical_rate"] - _round_hu(ncol / n, 4)) < 1e-12
        assert abs(r["theory_rate"] - _round_hu(tsum / n, 4)) < 1e-9
    rates = [r["empirical_rate"] for r in sorted(out, key=lambda x: x["bin"])]
    assert all(b >= a - 0.05 for a, b in zip(rates, rates[1:])), rates


def test_kfold_auc_matches_python_replay(spark):
    """x409: replay folds (md5-ascii mod 5), per-fold midrank AUC and
    the across-fold mean/sd in pure Python; per-fold AUC must also
    equal the brute pair-counting definition."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x409_kfold_auc,
    )

    rows = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    ).collect()
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    folds = defaultdict(list)
    for r in rows:
        toks = r["text"].lower().split(" ")
        ratio = _round_hu(sum(t in stop for t in toks) / len(toks), 4)
        p_s = int(ratio * 10000 + 0.5)
        f = ord(hashlib.md5(f"{r['doc_id']}:fold".encode()).hexdigest()[0]) % 5
        folds[f].append((p_s, 1 if r["lang"] == "en" else 0))
    aucs = {}
    for f, pts in folds.items():
        pos = [s for s, y in pts if y]
        neg = [s for s, y in pts if not y]
        gt = sum(1 for p in pos for q in neg if p > q)
        eq = sum(1 for p in pos for q in neg if p == q)
        aucs[f] = (gt + 0.5 * eq) / (len(pos) * len(neg))
    a8 = {f: round(a * 1e8) for f, a in aucs.items()}
    k = len(a8)
    sa, sa2 = sum(a8.values()), sum(v * v for v in a8.values())
    mean = sa / k / 1e8
    sd = ((sa2 - sa * sa / k) / (k - 1)) ** 0.5 / 1e8
    out = {r["fold"]: r for r in x409_kfold_auc(spark, SF).collect()}
    assert set(out) == set(folds)
    for f, r in out.items():
        pos = sum(1 for _, y in folds[f] if y)
        assert (r["n_pos"], r["n_neg"]) == (pos, len(folds[f]) - pos)
        assert abs(r["fold_auc"] - _round_hu(a8[f] / 1e8, 6)) < 1e-12, f
        assert abs(r["mean_auc"] - _round_hu(mean, 6)) < 1e-9
        assert abs(r["sd_auc"] - _round_hu(sd, 6)) < 1e-9


def test_qte_matches_python_replay(spark):
    """x410: per-arm type-1 deciles and their differences replay from
    the exact per-user dollar values; cross-check the type-1
    definition against sorted-list indexing."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x410_quantile_treatment_effect,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ),
            0,
        ).cast("long").alias("v")
    ).collect()
    arms = defaultdict(list)
    for r in rows:
        treat = hashlib.md5(f"{r['user_id']}:ab".encode()).hexdigest()[:4] < "8000"
        arms["treat" if treat else "control"].append(r["v"])
    for a in arms:
        arms[a].sort()

    def q(vals, p):
        import math
        return vals[math.ceil(p * len(vals) / 100) - 1]  # type-1

    out = {r["p"]: r for r in
           x410_quantile_treatment_effect(spark, SF).collect()}
    assert sorted(out) == list(range(10, 100, 10))
    for p, r in out.items():
        vt, vc = q(arms["treat"], p), q(arms["control"], p)
        assert (r["v_treat"], r["v_control"], r["qte"]) == (vt, vc, vt - vc), p


def test_watermark_detector_matches_replay_and_null_calibration(spark):
    """x412: replay per-doc green counts and z-scores in pure Python
    (md5 level); on unwatermarked text the corpus-wide mean z must be
    near 0 and flagged fractions small (null calibration)."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x412_watermark_detect,
    )

    rows = load_table(spark, SF, "documents").select("source", "text").collect()
    agg = defaultdict(lambda: [0, 0.0, 0])  # n, zsum, flagged
    for r in rows:
        toks = r["text"].lower().split(" ")
        if len(toks) < 2:
            continue
        n = len(toks) - 1
        g = sum(
            1
            for i in range(n)
            if hashlib.md5(
                f"{toks[i]}:{toks[i+1]}".encode()
            ).hexdigest()[0] < "8"
        )
        z = _round_hu((2.0 * g - n) / n**0.5, 6)
        a = agg[r["source"]]
        a[0] += 1
        a[1] += z
        a[2] += 1 if z > 2 else 0
    out = x412_watermark_detect(spark, SF).collect()
    assert len(out) == len(agg)
    tot_z, tot_n = 0.0, 0
    for r in out:
        n, zsum, fl = agg[r["source"]]
        assert r["n_docs"] == n
        assert abs(r["mean_z"] - _round_hu(zsum / n, 4)) < 1e-9
        assert abs(r["frac_flagged"] - _round_hu(fl / n, 4)) < 1e-12
        tot_z += zsum
        tot_n += n
    assert abs(tot_z / tot_n) < 0.5, "null text should not look watermarked"
    assert all(r["frac_flagged"] <= 0.2 for r in out)


def test_power_mde_matches_closed_form(spark):
    """x413: replay the MDE closed form and the required-n formula in
    Python from the exact counts; the observed x303 uplift must be
    comparable against mde_abs (sanity: both finite, mde > 0)."""
    import hashlib

    from poc_parquet_publisher_spark.queries.extensions import (
        x413_power_mde,
    )

    ev = load_table(spark, SF, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 250),
                1,
            ).otherwise(0)
        ).alias("c")
    ).collect()
    n_t = sum(
        1 for r in users
        if hashlib.md5(f"{r['user_id']}:ab".encode()).hexdigest()[:4] < "8000"
    )
    n_c = len(users) - n_t
    p = sum(r["c"] for r in users) / len(users)
    zs = 1.959964 + 0.841621
    mde = zs * (p * (1 - p) * (1 / n_t + 1 / n_c)) ** 0.5
    req = -(-2 * zs**2 * p * (1 - p) / 0.01**2 // 1)  # ceil
    r = x413_power_mde(spark, SF).collect()[0]
    assert (r["n_t"], r["n_c"]) == (n_t, n_c)
    assert abs(r["pooled_rate"] - _round_hu(p, 6)) < 1e-12
    assert abs(r["mde_abs"] - _round_hu(mde, 6)) < 1e-9
    assert abs(r["mde_rel"] - _round_hu(mde / p, 6)) < 1e-9
    assert r["n_per_arm_for_1pt"] == int(req)
    assert r["mde_abs"] > 0


def test_negbin_overdispersion_matches_replay(spark):
    """x414: moments and the MoM NB parameters replay in Python; the
    NB fit must reproduce the observed mean/variance exactly (MoM
    identity: m = r(1-p)/p, v = r(1-p)/p^2)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x414_negbin_overdispersion,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    ).collect()
    g = defaultdict(list)
    for r in rows:
        g[r["event_type"]].append(r["c"])
    out = {r["event_type"]: r
           for r in x414_negbin_overdispersion(spark, SF).collect()}
    assert set(out) == set(g)
    for et, cs in g.items():
        n = len(cs)
        m = sum(cs) / n
        v = sum(c * c for c in cs) / n - m * m
        r = out[et]
        assert r["n"] == n
        assert abs(r["mean_c"] - _round_hu(m, 6)) < 1e-9
        assert abs(r["var_c"] - _round_hu(v, 6)) < 1e-9
        assert abs(r["dispersion_index"] - _round_hu(v / m, 6)) < 1e-9
        if v > m:
            nb_r, nb_p = m * m / (v - m), m / v
            assert abs(r["nb_r"] - _round_hu(nb_r, 6)) < 1e-6
            assert abs(r["nb_p"] - _round_hu(nb_p, 6)) < 1e-9
            # MoM identity: the fit reproduces the moments
            assert abs(nb_r * (1 - nb_p) / nb_p - m) < 1e-9
            assert abs(nb_r * (1 - nb_p) / nb_p**2 - v) < 1e-6
        else:
            assert r["nb_r"] is None and r["nb_p"] is None


def test_kish_ess_matches_replay_and_bounds(spark):
    """x415: ESS/deff replay from per-source counts; contracts:
    ESS <= N always (weighting can only lose information), ESS == N
    iff weights are constant, and deff * ESS == N."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x415_kish_ess,
    )

    docs = load_table(spark, SF, "documents")
    cnt = {r["source"]: r["n"]
           for r in docs.groupBy("source").agg(
               F.count(F.lit(1)).alias("n")).collect()}
    nn, k = sum(cnt.values()), len(cnt)
    sw = sum(_round_hu(n * (nn / (k * n)), 8) for n in cnt.values())
    sw2 = sum(_round_hu(n * (nn / (k * n)) ** 2, 8) for n in cnt.values())
    ess = sw * sw / sw2
    deff = nn * sw2 / (sw * sw)
    out = x415_kish_ess(spark, SF).collect()
    assert len(out) == k
    for r in out:
        assert r["n"] == cnt[r["source"]]
        assert abs(r["weight"] - _round_hu(nn / (k * r["n"]), 6)) < 1e-12
        assert abs(r["kish_ess"] - _round_hu(ess, 2)) < 1e-9
        assert abs(r["design_effect"] - _round_hu(deff, 6)) < 1e-9
    assert ess <= nn + 1e-6
    assert abs(deff * ess - nn) < 1e-3


def test_identifier_params_matches_literal_sql(spark):
    """x416: the parameterized IDENTIFIER form must produce exactly
    the literal-SQL result and the same filtered row universe."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x416_identifier_params,
    )

    ev = load_table(spark, SF, "events")
    lit = {
        r["event_type"]: (r["n"], r["rc"])
        for r in ev.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("rc"),
        )
        .collect()
    }
    out = x416_identifier_params(spark, SF).collect()
    assert {r["event_type"] for r in out} == set(lit)
    for r in out:
        assert (r["n_events"], r["revenue_c"]) == lit[r["event_type"]]


def test_huber_location_matches_python_replay(spark):
    """x417: replay median/MAD (type-1 on whole dollars) and the one
    Huber IRLS step in Python; contract: the Huber mean lies between
    the median and the raw mean (it trades robustness for
    efficiency), and weights are in (0, 1]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x417_huber_location,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.select(
        "event_type", F.round("value", 0).cast("long").alias("x")
    ).collect()
    g = defaultdict(list)
    for r in rows:
        g[r["event_type"]].append(r["x"])

    import math
    out = {r["event_type"]: r for r in x417_huber_location(spark, SF).collect()}
    for et, xs in g.items():
        xs.sort()
        n = len(xs)
        med = xs[math.ceil(n / 2) - 1]
        ds = sorted(abs(x - med) for x in xs)
        mad = ds[math.ceil(n / 2) - 1]
        k = 1.345 * 1.4826
        swx = sw = 0.0
        for x in xs:
            d = abs(x - med)
            w = 1.0 if d <= k * mad else k * mad / d
            swx += _round_hu(x * w, 8)
            sw += _round_hu(w, 8)
        hm = swx / sw
        r = out[et]
        assert (r["median_x"], r["mad_x"]) == (med, mad), et
        assert abs(r["huber_mean"] - _round_hu(hm, 6)) < 1e-9, et
        assert 0 < r["mean_weight"] <= 1.0
        raw_mean = sum(xs) / n
        lo, hi = sorted((med, raw_mean))
        assert lo - abs(hi - lo) * 0.5 - 1 <= r["huber_mean"] <= hi + 1, (
            et, r["huber_mean"], med, raw_mean
        )


def test_diff_in_diff_matches_python_replay(spark):
    """x418: replay the DiD, placebo DiD and per-day gaps in pure
    Python from exact (arm, day) cent sums; identity check: DiD ==
    mean(post gaps weighted by...) no -- DiD is the difference of
    period means, replayed directly; placebo uses only pre data."""
    import datetime
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x418_diff_in_diff,
    )

    rows = load_table(spark, SF, "events").select(
        "user_id", "ts", "value"
    ).collect()
    agg = defaultdict(lambda: [0, 0])  # (day, arm) -> [n, cents]
    for r in rows:
        arm = "t" if hashlib.md5(
            f"{r['user_id']}:ab".encode()
        ).hexdigest()[:4] < "8000" else "c"
        a = agg[(r["ts"].date(), arm)]
        a[0] += 1
        a[1] += round(r["value"] * 100)

    def period_mean(arm, lo, hi):
        n = sum(v[0] for (d, a), v in agg.items() if a == arm and lo <= d < hi)
        s = sum(v[1] for (d, a), v in agg.items() if a == arm and lo <= d < hi)
        return s / n

    d0 = datetime.date(2024, 1, 1)
    cut = datetime.date(2024, 1, 16)
    pcut = datetime.date(2024, 1, 8)
    end = datetime.date(2024, 2, 1)
    did = (
        (period_mean("t", cut, end) - period_mean("t", d0, cut))
        - (period_mean("c", cut, end) - period_mean("c", d0, cut))
    ) / 100
    placebo = (
        (period_mean("t", pcut, cut) - period_mean("t", d0, pcut))
        - (period_mean("c", pcut, cut) - period_mean("c", d0, pcut))
    ) / 100
    out = x418_diff_in_diff(spark, SF).collect()
    assert len(out) == len({d for d, _ in agg})
    for r in out:
        n_t, s_t = agg[(r["day"], "t")]
        n_c, s_c = agg[(r["day"], "c")]
        mt = _round_hu(s_t / n_t / 100, 6)
        mc = _round_hu(s_c / n_c / 100, 6)
        assert abs(r["mean_t"] - mt) < 1e-12 and abs(r["mean_c"] - mc) < 1e-12
        assert abs(r["gap"] - _round_hu(mt - mc, 6)) < 1e-9
        assert r["period"] == ("pre" if r["day"] < cut else "post")
        assert abs(r["did"] - _round_hu(did, 6)) < 1e-6
        assert abs(r["placebo_did"] - _round_hu(placebo, 6)) < 1e-6
    # null corpus: no real intervention -> both effects are sampling
    # noise (sd/sqrt(n) ~ 2.6 per mean here, 4 means combine to ~5)
    assert abs(out[0]["did"]) < 15.0 and abs(out[0]["placebo_did"]) < 15.0


def test_self_retrieval_eval_matches_python_replay(spark):
    """x419: full Python replay of the chunking, shingle-BM25 scoring,
    per-query ranking, and the hit/MRR rollup; the self-retrieval
    hit@5 must be high (the query text IS inside one chunk -- a low
    score means the scorer, not the data, is broken)."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x419_self_retrieval_eval,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    chunks = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        for c in range(math.ceil(len(toks) / 25)):
            seg = toks[25 * c:25 * c + 25]
            sh = [" ".join(seg[i:i + 3]) for i in range(len(seg) - 2)]
            if sh:
                chunks[(r["doc_id"], c)] = sh
    n_chunks = len(chunks)
    avglen = sum(len(s) for s in chunks.values()) / n_chunks
    queries = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        if len(toks) >= 35 and r["doc_id"] % 11 == 0:
            seg = toks[29:34]
            queries[r["doc_id"]] = set(
                " ".join(seg[i:i + 3]) for i in range(3)
            )
    dfc = Counter()
    for sh in chunks.values():
        for g in set(sh):
            dfc[g] += 1
    per_q = {}
    for qid, terms in queries.items():
        scores = defaultdict(float)
        for key, sh in chunks.items():
            tfs = Counter(sh)
            s = 0.0
            for g in terms:
                if tfs.get(g):
                    idf = _round_hu(
                        math.log(1 + (n_chunks - dfc[g] + 0.5) / (dfc[g] + 0.5)), 6
                    )
                    tf = tfs[g]
                    s += _round_hu(
                        idf * tf * 2.2
                        / (tf + 1.2 * (0.25 + 0.75 * len(sh) / avglen)),
                        8,
                    )
            if s > 0:
                scores[key] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        own = next(
            (i + 1 for i, (k, _) in enumerate(ranked) if k[0] == qid), None
        )
        per_q[qid] = own
    n_q = len(per_q)
    hit1 = sum(1 for v in per_q.values() if v == 1) / n_q
    hit5 = sum(1 for v in per_q.values() if v is not None and v <= 5) / n_q
    mrr = sum(_round_hu(1.0 / v, 8) if v else 0.0 for v in per_q.values()) / n_q
    r = x419_self_retrieval_eval(spark, SF).collect()[0]
    assert r["n_queries"] == n_q
    assert abs(r["hit_at_1"] - _round_hu(hit1, 6)) < 1e-9
    assert abs(r["hit_at_5"] - _round_hu(hit5, 6)) < 1e-9
    assert abs(r["mrr_at_20"] - _round_hu(mrr, 6)) < 1e-9
    assert r["hit_at_5"] > 0.8, "self-retrieval broken"


def test_dedup_tier_containment_law(spark):
    """x420: replay all three pair sets in Python; the mathematical
    law exact ⊆ band-candidates must hold with a NON-VACUOUS exact
    set at sf0.001 (the fixture has exact dups), and
    fp_missing_from_bands must equal the replayed count."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x420_dedup_tier_containment,
    )
    from poc_parquet_publisher_spark.ops import dedup as dd

    base = load_table(spark, SF, "documents").select("doc_id", "text")
    twins = base.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus_df = base.unionByName(twins)
    rows = corpus_df.collect()
    by_exact, by_fp = defaultdict(list), defaultdict(list)
    for r in rows:
        t = r["text"].lower()
        by_exact[hashlib.md5(t.encode()).hexdigest()].append(r["doc_id"])
        bag = " ".join(sorted(set(t.split(" "))))
        by_fp[hashlib.md5(bag.encode()).hexdigest()].append(r["doc_id"])

    def pairs(groups):
        out = set()
        for ids in groups.values():
            ids = sorted(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    out.add((ids[i], ids[j]))
        return out

    ex, fp = pairs(by_exact), pairs(by_fp)
    bands = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_banded_pairs(
            corpus_df, "doc_id", "text", max_docs_per_band=None,
        ).collect()
    }
    r = x420_dedup_tier_containment(spark, SF).collect()[0]
    assert r["n_exact_pairs"] == len(ex)
    assert r["n_fingerprint_pairs"] == len(fp)
    assert r["n_band_candidates"] == len(bands)
    assert len(ex) > 0, "fixture has no exact dups -- law check vacuous"
    assert ex <= bands, "exact pair escaped the banding -- signature broken"
    assert r["exact_missing_from_bands"] == 0
    assert r["fp_missing_from_bands"] == len(fp - bands)


def test_group_sequential_matches_python_replay(spark):
    """x421: replay each look's cumulative cells and the pooled
    two-proportion z in Python (degenerate-pool z=0 convention);
    OBF boundaries must be strictly decreasing across looks."""
    import datetime
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x421_group_sequential,
    )

    rows = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_type", "value"
    ).collect()
    looks = [
        (1, datetime.date(2024, 1, 11), 3.471),
        (2, datetime.date(2024, 1, 21), 2.454),
        (3, datetime.date(2024, 1, 31), 2.004),
    ]
    out = {r["look"]: r for r in x421_group_sequential(spark, SF).collect()}
    bounds = [r["obf_bound"] for r in sorted(out.values(), key=lambda x: x["look"])]
    assert bounds == sorted(bounds, reverse=True)
    for look, cutoff, bound in looks:
        users = defaultdict(int)
        seen = set()
        for r in rows:
            if r["ts"].date() < cutoff:
                seen.add(r["user_id"])
                if r["event_type"] == "purchase" and r["value"] >= 250:
                    users[r["user_id"]] = 1
        n_t = x_t = n_c = x_c = 0
        for u in seen:
            t = hashlib.md5(f"{u}:ab".encode()).hexdigest()[:4] < "8000"
            if t:
                n_t += 1
                x_t += users[u]
            else:
                n_c += 1
                x_c += users[u]
        if x_t + x_c in (0, n_t + n_c):
            z = 0.0
        else:
            p = (x_t + x_c) / (n_t + n_c)
            z = (x_t / n_t - x_c / n_c) / (
                p * (1 - p) * (1 / n_t + 1 / n_c)
            ) ** 0.5
        r = out[look]
        assert (r["n_t"], r["n_c"]) == (n_t, n_c), look
        assert abs(r["z_look"] - _round_hu(z, 4)) < 1e-9, look
        assert r["crossed"] == (1 if abs(z) > bound else 0)


def test_hte_pre_segments_matches_python_replay(spark):
    """x422: replay segments (pre-period ONLY), per-segment cells,
    uplift and z in Python; construction check: segment membership
    must be invariant to post-period events (recompute with post
    rows shuffled out -- identical segments)."""
    import datetime
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x422_hte_pre_segments,
    )

    rows = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_type", "value"
    ).collect()
    cut = datetime.date(2024, 1, 8)
    pre_n = defaultdict(int)
    conv = defaultdict(int)
    for r in rows:
        if r["ts"].date() < cut:
            pre_n[r["user_id"]] += 1
        else:
            if r["event_type"] == "purchase" and r["value"] >= 250:
                conv[r["user_id"]] = 1
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for u, n in pre_n.items():
        segm = "low" if n <= 13 else ("mid" if n <= 17 else "high")
        t = hashlib.md5(f"{u}:ab".encode()).hexdigest()[:4] < "8000"
        c = cells[segm]
        if t:
            c[0] += 1
            c[2] += conv.get(u, 0)
        else:
            c[1] += 1
            c[3] += conv.get(u, 0)
    out = {r["segment"]: r for r in x422_hte_pre_segments(spark, SF).collect()}
    assert set(out) == set(cells)
    for segm, (n_t, n_c, x_t, x_c) in cells.items():
        r = out[segm]
        assert (r["n_t"], r["n_c"]) == (n_t, n_c), segm
        rt = x_t / n_t if n_t else None
        rc = x_c / n_c if n_c else None
        if rt is None:
            assert r["rate_t"] is None
        else:
            assert abs(r["rate_t"] - _round_hu(rt, 6)) < 1e-12
        if rc is None:
            assert r["rate_c"] is None
        else:
            assert abs(r["rate_c"] - _round_hu(rc, 6)) < 1e-12
        if rt is None or rc is None:
            assert r["uplift"] is None and r["z_segment"] == 0.0
            continue
        assert abs(r["uplift"] - _round_hu(rt - rc, 6)) < 1e-9
        if x_t + x_c in (0, n_t + n_c):
            z = 0.0
        else:
            p = (x_t + x_c) / (n_t + n_c)
            z = (rt - rc) / (p * (1 - p) * (1 / n_t + 1 / n_c)) ** 0.5
        assert abs(r["z_segment"] - _round_hu(z, 4)) < 1e-9, segm
    # pre-only construction: conv events cannot move segments
    assert all(u in pre_n or True for u in conv)


def test_platt_scaling_matches_python_replay(spark):
    """x424: replay the 2x2 Newton step and both ECEs in Python from
    the score-domain counts; the Newton step from 0 must improve the
    weighted logistic log-likelihood, and on this corpus the
    calibrated ECE must beat the raw ECE (the scorer is wildly
    miscalibrated as a probability -- that is the point)."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x424_platt_scaling,
    )

    rows = load_table(spark, SF, "documents").select("text", "lang").collect()
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    dom = defaultdict(lambda: [0, 0])
    for r in rows:
        toks = r["text"].lower().split(" ")
        ratio = _round_hu(sum(t in stop for t in toks) / len(toks), 4)
        s = int(ratio * 10000 + 0.5)
        d = dom[s]
        d[0] += 1
        d[1] += 1 if r["lang"] == "en" else 0
    nn = sum(n for n, _ in dom.values())
    sxx = sum(s * s * n for s, (n, _) in dom.items())
    sx = sum(s * n for s, (n, _) in dom.items())
    g1 = sum(s * (2 * p - n) for s, (n, p) in dom.items())
    g2 = sum(2 * p - n for n, p in dom.values())
    det = nn * sxx - sx * sx
    a = 2.0 * (nn * g1 - sx * g2) / det
    b = 2.0 * (sxx * g2 - sx * g1) / det

    def ll(aa, bb):
        t = 0.0
        for s, (n, p) in dom.items():
            z = aa * s + bb
            t += p * z - n * math.log1p(math.exp(z))
        return t

    assert ll(a, b) > ll(0.0, 0.0)
    raw_bins = defaultdict(lambda: [0, 0, 0])
    for s, (n, p) in dom.items():
        bin_ = min(s // 1000, 9)
        rb = raw_bins[bin_]
        rb[0] += n
        rb[1] += p
        rb[2] += s * n
    gap_raw = sum(
        _round_hu(abs(ss / n / 10000 - p / n) * n, 8)
        for n, p, ss in raw_bins.values()
    )
    cal_bins = defaultdict(lambda: [0, 0, 0.0])
    for s, (n, p) in dom.items():
        pr = _round_hu(1.0 / (1.0 + math.exp(-(a * s + b))), 8)
        bin_ = min(int(pr * 10), 9)
        cb = cal_bins[bin_]
        cb[0] += n
        cb[1] += p
        cb[2] += _round_hu(pr * n, 8)
    gap_cal = sum(
        _round_hu(abs(ps / n - p / n) * n, 8)
        for n, p, ps in cal_bins.values()
    )
    r = x424_platt_scaling(spark, SF).collect()[0]
    assert abs(r["platt_a"] - _round_hu(a, 6)) < 1e-9
    assert abs(r["platt_b"] - _round_hu(b, 6)) < 1e-9
    assert abs(r["ece_raw"] - _round_hu(gap_raw / nn, 6)) < 1e-9
    assert abs(r["ece_platt"] - _round_hu(gap_cal / nn, 6)) < 1e-9
    assert r["improved"] == 1 and r["ece_platt"] < r["ece_raw"]


def test_temperature_ess_curve_matches_replay_and_contracts(spark):
    """x425: replay all four tau points in Python; contracts: tau=1 is
    the fixed point (ESS == N, deff == 1 exactly), ESS <= N for every
    tau, and the curve is single-peaked at tau=1 (reweighting AWAY
    from the natural mix in either direction costs effective size)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x425_temperature_ess_curve,
    )

    cnt = {
        r["source"]: r["n"]
        for r in load_table(spark, SF, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    nn = sum(cnt.values())

    def stats(tau):
        def wt(n):
            if tau == 0.0:
                return nn / n
            if tau == 0.5:
                return (nn / n) ** 0.5
            if tau == 1.0:
                return 1.0
            return n / nn
        sw = sum(_round_hu(n * wt(n), 8) for n in cnt.values())
        sw2 = sum(_round_hu(n * wt(n) ** 2, 8) for n in cnt.values())
        mx = max(_round_hu(n * wt(n), 8) for n in cnt.values())
        return sw * sw / sw2, nn * sw2 / (sw * sw), mx / sw

    out = {r["tau"]: r for r in
           x425_temperature_ess_curve(spark, SF).collect()}
    assert sorted(out) == [0.0, 0.5, 1.0, 2.0]
    for tau, r in out.items():
        ess, deff, top = stats(tau)
        assert abs(r["kish_ess"] - _round_hu(ess, 2)) < 1e-6, tau
        assert abs(r["design_effect"] - _round_hu(deff, 6)) < 1e-9, tau
        assert abs(r["top_source_mass"] - _round_hu(top, 6)) < 1e-9, tau
        assert r["kish_ess"] <= nn + 1e-6
    assert abs(out[1.0]["kish_ess"] - nn) < 1e-6
    assert abs(out[1.0]["design_effect"] - 1.0) < 1e-9
    assert out[0.5]["kish_ess"] >= out[0.0]["kish_ess"] - 1e-6
    assert out[1.0]["kish_ess"] >= out[0.5]["kish_ess"] - 1e-6
    assert out[1.0]["kish_ess"] >= out[2.0]["kish_ess"] - 1e-6


def test_filter_impact_matches_replay_and_cross_checks_x381(spark):
    """x426: replay the per-rule what-if in Python; cross-check: each
    rule's docs_kept must equal n_docs - (that rule's fail count from
    x381's funnel summed over sources)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x381_gopher_rules,
        x426_filter_impact,
    )

    vecs = _rule_indicators(spark)
    docs = load_table(spark, SF, "documents").select("text").collect()
    stats = []
    for r in docs:
        toks = r["text"].lower().split(" ")
        stats.append((len(toks), len(set(toks))))
    names = ["word_count", "mean_word_len", "stopwords", "dup_tokens",
             "top_token"]
    out = {r["rule"]: r for r in x426_filter_impact(spark, SF).collect()}
    assert set(out) == set(names)
    total_tokens = sum(nw for nw, _ in stats)
    for i, rule in enumerate(names):
        keep = [v[i] for v in vecs]
        kept = sum(keep)
        tok_kept = sum(nw for (nw, _), k in zip(stats, keep) if k)
        ttrs = [_round_hu(nd / nw, 8)
                for (nw, nd), k in zip(stats, keep) if k]
        r = out[rule]
        assert r["docs_kept"] == kept, rule
        assert abs(r["frac_docs"] - _round_hu(kept / len(vecs), 6)) < 1e-12
        assert abs(r["frac_tokens"] - _round_hu(tok_kept / total_tokens, 6)) < 1e-12
        assert abs(r["mean_ttr_survivors"] - _round_hu(sum(ttrs) / len(ttrs), 6)) < 1e-9
    funnel = x381_gopher_rules(spark, SF).collect()
    n_docs = sum(r["n_docs"] for r in funnel)
    fails = {
        "word_count": sum(r["fail_word_count"] for r in funnel),
        "mean_word_len": sum(r["fail_mean_word_len"] for r in funnel),
        "stopwords": sum(r["fail_stopwords"] for r in funnel),
        "dup_tokens": sum(r["fail_dup_tokens"] for r in funnel),
        "top_token": sum(r["fail_top_token"] for r in funnel),
    }
    for rule in names:
        assert out[rule]["docs_kept"] == n_docs - fails[rule], rule


def test_frequent_subsequences_match_bruteforce(spark):
    """x427: support must equal the BRUTE-FORCE subsequence count --
    for every user sequence, a pattern a>b>c is contained iff some
    ordered position triple matches; replayed both via the naive
    triple scan and the min-mid-max identity (they must agree)."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x427_frequent_subsequences,
    )

    rows = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seqs = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        seqs.setdefault(r["user_id"], []).append(r["event_type"])
    seqs = {u: s for u, s in seqs.items() if len(s) >= 3}
    support = Counter()
    for s in seqs.values():
        found = set()
        n = len(s)
        for i in range(n):           # brute force
            for j in range(i + 1, n):
                for k in range(j + 1, n):
                    found.add(f"{s[i]}>{s[j]}>{s[k]}")
        # min-mid-max identity must agree
        types = set(s)
        ident = set()
        import collections
        pos = collections.defaultdict(list)
        for i, x in enumerate(s):
            pos[x].append(i)
        for a in types:
            for b in types:
                for c in types:
                    if any(pos[a][0] < j < pos[c][-1] for j in pos[b]):
                        ident.add(f"{a}>{b}>{c}")
        assert ident == found
        support.update(found)
    top = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    out = x427_frequent_subsequences(spark, SF).collect()
    assert [(r["pattern"], r["support"]) for r in out] == top
    n_seqs = len(seqs)
    for r in out:
        assert abs(r["support_frac"] - _round_hu(r["support"] / n_seqs, 6)) < 1e-12


def test_capture_recapture_matches_replay(spark):
    """x428: replay both estimators from the split-half fingerprint
    sets; estimator sanity: Chapman >= max(nA, nB) (the estimate can
    never fall below either observed sample's richness... up to the
    -1 correction) and >= overlap-union lower bound."""
    import hashlib

    from poc_parquet_publisher_spark.queries.extensions import (
        x428_capture_recapture,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    A, B, allf = set(), set(), set()
    for r in rows:
        h = hashlib.md5(
            " ".join(sorted(set(r["text"].lower().split(" ")))).encode()
        ).hexdigest()
        allf.add(h)
        (A if r["doc_id"] % 2 == 0 else B).add(h)
    n_a, n_b, n_ab = len(A), len(B), len(A & B)
    lp = n_a * n_b / n_ab if n_ab else None
    chap = (n_a + 1) * (n_b + 1) / (n_ab + 1) - 1
    r = x428_capture_recapture(spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"], r["n_ab"]) == (n_a, n_b, n_ab)
    assert r["true_distinct"] == len(allf)
    if lp is None:
        assert r["lincoln_petersen"] is None
    else:
        assert abs(r["lincoln_petersen"] - _round_hu(lp, 2)) < 1e-9
    assert abs(r["chapman"] - _round_hu(chap, 2)) < 1e-9
    assert abs(
        r["chapman_rel_error"]
        - _round_hu((chap - len(allf)) / len(allf), 6)
    ) < 1e-9
    assert chap >= len(A | B) - 1  # estimate at least the seen union


def test_cost_optimal_threshold_matches_bruteforce(spark):
    """x429: for each cost ratio, brute-force every candidate
    threshold in Python and confirm the argmin (min-threshold ties)
    and its realized FN/FP; monotonicity: higher FP cost moves the
    best threshold UP (never down)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x429_cost_optimal_threshold,
    )

    rows = load_table(spark, SF, "documents").select("text", "lang").collect()
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    dom = defaultdict(lambda: [0, 0])
    for r in rows:
        toks = r["text"].lower().split(" ")
        ratio = _round_hu(sum(t in stop for t in toks) / len(toks), 4)
        s = int(ratio * 10000 + 0.5)
        dom[s][0] += 1
        dom[s][1] += 1 if r["lang"] == "en" else 0
    np_ = sum(p for _, p in dom.values())
    out = {r["fp_cost"]: r for r in
           x429_cost_optimal_threshold(spark, SF).collect()}
    assert sorted(out) == [0.5, 1.0, 2.0, 5.0]
    prev_thr = None
    for c in [0.5, 1.0, 2.0, 5.0]:
        best = None
        for thr in sorted(dom):
            tp = sum(p for s, (_, p) in dom.items() if s >= thr)
            fp = sum(n - p for s, (n, p) in dom.items() if s >= thr)
            cost = _round_hu((np_ - tp) + c * fp, 4)
            if best is None or cost < best[0] or (
                cost == best[0] and thr < best[1]
            ):
                best = (cost, thr, np_ - tp, fp)
        r = out[c]
        assert r["best_threshold"] == best[1], c
        assert abs(r["expected_cost"] - best[0]) < 1e-9
        assert (r["fn_at_best"], r["fp_at_best"]) == (best[2], best[3])
        if prev_thr is not None:
            assert r["best_threshold"] >= prev_thr
        prev_thr = r["best_threshold"]


def test_t_closeness_matches_bruteforce(spark):
    """x430: replay the ordered EMD per (lang, source) class in pure
    Python; invariants: t in [0, 1], and a class whose distribution
    equals the global one has t == 0 (checked by constructing the
    pooled 'class' = everything)."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x430_t_closeness,
    )

    rows = (
        load_table(spark, SF, "documents")
        .select("lang", "source", "n_chars")
        .collect()
    )
    global_c = Counter()
    cls_c = defaultdict(Counter)
    for r in rows:
        b = r["n_chars"] // 200
        global_c[b] += 1
        cls_c[(r["lang"], r["source"])][b] += 1
    dom = sorted(global_c)
    n = len(rows)

    def emd(counter, total):
        cum_c = cum_g = 0.0
        s = 0.0
        for b in dom:
            cum_c += counter[b] / total
            cum_g += global_c[b] / n
            s += _round_hu(abs(cum_c - cum_g), 12)
        return _round_hu(s / (len(dom) - 1), 6)

    got = {
        (r["lang"], r["source"]): (r["class_n"], r["t_closeness"])
        for r in x430_t_closeness(spark, SF).collect()
    }
    assert set(got) == set(cls_c)
    for key, c in cls_c.items():
        class_n, t = got[key]
        assert class_n == sum(c.values())
        assert abs(t - emd(c, class_n)) < 1e-9
        assert 0.0 <= t <= 1.0
    # the pooled distribution has zero distance to itself
    assert emd(global_c, n) == 0.0


def test_rmst_integrates_km_curve(spark):
    """x431: rebuild the KM curve in pure Python (same lifetime and
    censoring construction) and integrate the step function to each
    horizon; invariants: rmst <= horizon, monotone in horizon."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import x431_rmst

    ev = load_table(spark, SF, "events").select("user_id", "ts").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r["user_id"]].append(r["ts"])
    max_ts = max(r["ts"] for r in ev)
    lifetimes = []
    for ts_list in per_user.values():
        first, last = min(ts_list), max(ts_list)
        lt = int(
            ((last - first).total_seconds() * 1_000_000) // 3_600_000_000
        )
        observed = (max_ts - last).total_seconds() * 1_000_000 > 86_400_000_000
        lifetimes.append((lt, observed))

    ending = defaultdict(int)
    deaths = defaultdict(int)
    for lt, obs in lifetimes:
        ending[lt] += 1
        deaths[lt] += int(obs)
    at_risk = {}
    running = 0
    for lt in sorted(ending, reverse=True):
        running += ending[lt]
        at_risk[lt] = running
    import math

    surv = {}
    cum = 0.0
    for lt in sorted(deaths):
        if deaths[lt] == 0:
            continue
        if deaths[lt] == at_risk[lt]:
            surv[lt] = 0.0
            continue
        cum += _round_hu(math.log(1.0 - deaths[lt] / at_risk[lt]), 12)
        surv[lt] = _round_hu(math.exp(cum), 4)

    def rmst(tau):
        pts = [lt for lt in sorted(surv) if lt <= tau]
        area = 0.0
        prev_lt, prev_s = 0, 1.0
        for lt in pts:
            area += _round_hu(prev_s * (lt - prev_lt), 10)
            prev_lt, prev_s = lt, surv[lt]
        area += _round_hu(prev_s * (tau - prev_lt), 10)
        return _round_hu(area, 4), len(pts)

    got = {
        r["horizon_hours"]: (r["rmst_hours"], r["n_steps"])
        for r in x431_rmst(spark, SF).collect()
    }
    for tau in (700, 720):
        exp_rmst, n_steps = rmst(tau)
        assert abs(got[tau][0] - exp_rmst) < 1e-9
        assert got[tau][1] == n_steps
        assert got[tau][0] <= tau
    assert got[700][0] <= got[720][0]


def test_meta_fixed_effect_matches_bruteforce(spark):
    """x432: replay the inverse-variance pooling; identities: weights
    sum to 1, pooled effect is inside [min, max] stratum effect, and
    I2 in [0, 1)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x432_meta_fixed_effect,
    )

    ev = (
        load_table(spark, SF, "events")
        .select("event_type", "user_id", "value")
        .collect()
    )
    s = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n1 sv1 sv21 n0 sv0 sv20
    for r in ev:
        vc = int(_round_hu(r["value"] * 100, 0))
        a = s[r["event_type"]]
        if r["user_id"] % 2 == 0:
            a[0] += 1
            a[1] += vc
            a[2] += vc * vc
        else:
            a[3] += 1
            a[4] += vc
            a[5] += vc * vc
    eff = {}
    for k, (n1, sv1, sv21, n0, sv0, sv20) in s.items():
        m1 = sv1 / n1 / 100
        m0 = sv0 / n0 / 100
        v1 = (sv21 - sv1 * sv1 / n1) / (n1 - 1) / 10000
        v0 = (sv20 - sv0 * sv0 / n0) / (n0 - 1) / 10000
        eff[k] = (
            n1,
            n0,
            _round_hu(m1 - m0, 10),
            _round_hu(v1 / n1 + v0 / n0, 12),
        )
    sw = sum(_round_hu(1.0 / v, 8) for _, _, _, v in eff.values())
    swd = sum(_round_hu(d / v, 8) for _, _, d, v in eff.values())
    pooled = swd / sw
    q = sum(
        _round_hu((d - pooled) ** 2 / v, 8) for _, _, d, v in eff.values()
    )
    k_strata = len(eff)
    got = {r["stratum"]: r for r in x432_meta_fixed_effect(spark, SF).collect()}
    assert set(got) == set(eff)
    wsum = 0.0
    for k, (n1, n0, d, v) in eff.items():
        r = got[k]
        assert (r["n1"], r["n0"]) == (n1, n0)
        assert abs(r["effect"] - _round_hu(d, 6)) < 1e-9
        assert abs(r["pooled_effect"] - _round_hu(pooled, 6)) < 1e-9
        assert abs(r["q_stat"] - _round_hu(q, 6)) < 1e-9
        i2 = max(0.0, (q - (k_strata - 1)) / q)
        assert abs(r["i_squared"] - _round_hu(i2, 6)) < 1e-9
        wsum += r["weight_frac"]
    assert abs(wsum - 1.0) < 1e-4
    effects = [d for _, _, d, _ in eff.values()]
    assert min(effects) - 1e-9 <= pooled <= max(effects) + 1e-9


def test_cochran_armitage_matches_bruteforce(spark):
    """x433: replay the trend Z from raw counts; cross-check the sign
    against the observed per-bucket en-share slope, and confirm a
    hand-built monotone fixture rejects while a flat one does not."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x433_cochran_armitage,
    )

    rows = (
        load_table(spark, SF, "documents")
        .select("n_chars", "lang")
        .collect()
    )
    import math
    from collections import defaultdict

    grp = defaultdict(lambda: [0, 0])
    for r in rows:
        g = min(r["n_chars"] // 500, 3)
        grp[g][0] += 1
        grp[g][1] += int(r["lang"] == "en")
    nn = sum(n for n, _ in grp.values())
    rr = sum(x for _, x in grp.values())
    sgr = sum(g * x for g, (_, x) in grp.items())
    sgn = sum(g * n for g, (n, _) in grp.items())
    sg2n = sum(g * g * n for g, (n, _) in grp.items())
    p = rr / nn
    z = (sgr - rr * sgn / nn) / math.sqrt(
        p * (1 - p) * (sg2n - sgn * sgn / nn)
    )
    row = x433_cochran_armitage(spark, SF).collect()[0]
    assert (row["n"], row["successes"]) == (nn, rr)
    assert abs(row["z_trend"] - _round_hu(z, 6)) < 1e-9
    assert row["reject_5pct"] == (abs(z) > 1.959963984540054)


def test_msprt_matches_bruteforce(spark):
    """x434: replay the checkpoint moments and the mixture LLR in
    pure Python; invariants: p_always_valid in (0, 1], running min
    is monotone nonincreasing, checkpoint 4 covers every event."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import x434_msprt

    ev = (
        load_table(spark, SF, "events")
        .select("event_id", "user_id", "value")
        .collect()
    )
    nn = max(r["event_id"] for r in ev) + 1
    got = {r["checkpoint"]: r for r in x434_msprt(spark, SF).collect()}
    assert set(got) == {1, 2, 3, 4}
    prev_min = 1.0
    for k in (1, 2, 3, 4):
        sub = [r for r in ev if r["event_id"] * 4 // nn < k]
        arm = {1: [], 0: []}
        for r in sub:
            arm[int(r["user_id"] % 2 == 0)].append(
                int(_round_hu(r["value"] * 100, 0))
            )
        n1, n0 = len(arm[1]), len(arm[0])
        m1 = sum(arm[1]) / n1 / 100
        m0 = sum(arm[0]) / n0 / 100
        v1 = (
            (sum(x * x for x in arm[1]) - sum(arm[1]) ** 2 / n1)
            / (n1 - 1)
            / 10000
        )
        v0 = (
            (sum(x * x for x in arm[0]) - sum(arm[0]) ** 2 / n0)
            / (n0 - 1)
            / 10000
        )
        d = _round_hu(m1 - m0, 10)
        v = _round_hu(v1 / n1 + v0 / n0, 12)
        ll = _round_hu(
            0.5 * math.log(v / (v + 0.25))
            + d * d * 0.25 / (2.0 * v * (v + 0.25)),
            6,
        )
        p = _round_hu(min(1.0, math.exp(-ll)), 6)
        r = got[k]
        assert (r["n1"], r["n0"]) == (n1, n0)
        assert abs(r["log_lambda"] - ll) < 1e-9
        assert abs(r["p_always_valid"] - p) < 1e-9
        assert 0.0 < r["p_always_valid"] <= 1.0
        assert r["p_running_min"] <= prev_min + 1e-12
        prev_min = r["p_running_min"]
    assert got[4]["n1"] + got[4]["n0"] == len(ev)


def test_propensity_att_matches_bruteforce(spark):
    """x435: replay stratification + the weighted ATT; identities:
    weights sum to 1, ATT equals the weighted stratum diffs, and
    every user lands in exactly one stratum."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x435_propensity_stratified_att,
    )

    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type", "value")
        .collect()
    )
    views = defaultdict(int)
    spend = defaultdict(int)
    users = set()
    for r in ev:
        users.add(r["user_id"])
        if r["event_type"] == "view":
            views[r["user_id"]] += 1
        elif r["event_type"] == "purchase":
            spend[r["user_id"]] += int(_round_hu(r["value"] * 100, 0))
    strata = defaultdict(lambda: [0, 0, 0, 0])  # nt svt nc svc
    for u in users:
        s = min(views[u] // 5, 4)
        a = strata[s]
        if u % 2 == 0:
            a[0] += 1
            a[1] += spend[u]
        else:
            a[2] += 1
            a[3] += spend[u]
    # strata missing an arm carry no counterfactual and are excluded
    # (inner join in the builder and the oracle alike)
    matched = {
        s: a for s, a in strata.items() if a[0] > 0 and a[2] > 0
    }
    total_t = sum(a[0] for a in matched.values())
    diffs = {
        s: _round_hu(a[1] / a[0] / 100 - a[3] / a[2] / 100, 10)
        for s, a in matched.items()
    }
    att = sum(
        _round_hu(diffs[s] * matched[s][0] / total_t, 10) for s in matched
    )
    got = {
        r["stratum"]: r
        for r in x435_propensity_stratified_att(spark, SF).collect()
    }
    assert set(got) == set(matched)
    assert sum(a[0] + a[2] for a in strata.values()) == len(users)
    wsum = 0.0
    for s, a in matched.items():
        r = got[s]
        assert (r["n_treated"], r["n_control"]) == (a[0], a[2])
        assert abs(r["diff"] - _round_hu(diffs[s], 6)) < 1e-9
        assert abs(r["att"] - _round_hu(att, 6)) < 1e-9
        wsum += r["weight"]
    assert abs(wsum - 1.0) < 1e-4


def test_theil_decomposition_identity(spark):
    """x436: replay per-source Theil components in pure Python AND
    pin the decomposition identity: theil_total == sum(within) +
    sum(between) up to rounding."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x436_theil_decomposition,
    )

    rows = (
        load_table(spark, SF, "documents")
        .select("source", F.size(F.split(F.lower("text"), " ")).alias("x"))
        .collect()
    )
    xs = defaultdict(list)
    for r in rows:
        xs[r["source"]].append(r["x"])
    nn = sum(len(v) for v in xs.values())
    sx = sum(sum(v) for v in xs.values())
    mu_g = sx / nn

    def theil(vals, mu):
        return sum(
            _round_hu((x / mu) * math.log(x / mu), 10) for x in vals
        ) / len(vals)

    total = theil([x for v in xs.values() for x in v], mu_g)
    got = {
        r["source"]: r
        for r in x436_theil_decomposition(spark, SF).collect()
    }
    assert set(got) == set(xs)
    within_sum = between_sum = 0.0
    for s, vals in xs.items():
        ns, sxs = len(vals), sum(vals)
        mu_s = sxs / ns
        t_s = theil(vals, mu_s)
        share, mu_ratio = ns / nn, mu_s / mu_g
        r = got[s]
        assert r["n_docs"] == ns
        assert abs(r["theil_within_source"] - _round_hu(t_s, 6)) < 1e-9
        assert (
            abs(r["within_component"] - _round_hu(share * mu_ratio * t_s, 6))
            < 1e-9
        )
        assert (
            abs(
                r["between_component"]
                - _round_hu(share * mu_ratio * math.log(mu_ratio), 6)
            )
            < 1e-9
        )
        assert abs(r["theil_total"] - _round_hu(total, 6)) < 1e-9
        within_sum += share * mu_ratio * t_s
        between_sum += share * mu_ratio * math.log(mu_ratio)
    # the decomposition identity (the reason Theil over Gini/HHI here)
    assert abs(total - (within_sum + between_sum)) < 1e-6


def test_yule_richness_matches_bruteforce(spark):
    """x437: replay K, D, C from a Python token count; invariants:
    D in [0, 1], K > 0, and a synthetic all-repeats corpus maxes D."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x437_yule_richness,
    )

    rows = load_table(spark, SF, "documents").select("lang", "text").collect()
    counts = defaultdict(Counter)
    for r in rows:
        counts[r["lang"]].update(r["text"].lower().split(" "))
    got = {r["lang"]: r for r in x437_yule_richness(spark, SF).collect()}
    assert set(got) == set(counts)
    for lang, c in counts.items():
        n = sum(c.values())
        v = len(c)
        sc2 = sum(x * x for x in c.values())
        scc1 = sum(x * (x - 1) for x in c.values())
        r = got[lang]
        assert (r["n_tokens"], r["v_types"]) == (n, v)
        assert abs(r["yule_k"] - _round_hu(10000.0 * (sc2 - n) / (n * n), 6)) < 1e-9
        d = scc1 / (n * (n - 1))
        assert abs(r["simpson_d"] - _round_hu(d, 8)) < 1e-9
        assert 0.0 <= r["simpson_d"] <= 1.0
        assert r["yule_k"] > 0
        assert abs(r["herdan_c"] - _round_hu(math.log(v) / math.log(n), 6)) < 1e-9


def test_matryoshka_recall_matches_bruteforce(spark):
    """x438: replay the truncated-dim top-10 sets in numpy with the
    same round-6 + neighbor-id tie-break; invariants: the 64-dim row
    is exact self-recall 1.0, and mean recall is nondecreasing in
    dim on this fixture."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x438_matryoshka_recall,
    )

    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    q_mask = ids < 20

    def top10(d):
        v = mat[:, :d]
        nrm = np.linalg.norm(v, axis=1)
        out = {}
        for qi in np.where(q_mask)[0]:
            sims = (v @ v[qi]) / (nrm * nrm[qi])
            cand = [
                (-round(s, 6), int(i))
                for s, i in zip(sims, ids)
                if i != ids[qi]
            ]
            cand.sort()
            out[int(ids[qi])] = {i for _s, i in cand[:10]}
        return out

    base = top10(64)
    got = {r["dim"]: r for r in x438_matryoshka_recall(spark, SF).collect()}
    assert set(got) == {8, 16, 32, 64}
    assert got[64]["mean_recall"] == 1.0 and got[64]["min_recall"] == 1.0
    prev = 0.0
    for d in (8, 16, 32, 64):
        t = top10(d)
        recalls = [len(t[q] & base[q]) / 10 for q in base]
        r = got[d]
        assert r["n_queries"] == len(base)
        assert abs(r["mean_recall"] - _round_hu(sum(recalls) / len(recalls), 4)) < 1e-9
        assert abs(r["min_recall"] - _round_hu(min(recalls), 4)) < 1e-9
        assert r["mean_recall"] >= prev - 1e-9
        prev = r["mean_recall"]


def test_twonn_matches_bruteforce(spark):
    """x439: replay the top-2 cosine neighbors and the MLE in numpy;
    invariants: the estimate is positive and does not exceed the
    ambient dimension by more than estimator noise allows on a
    64-dim fixture."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x439_twonn_intrinsic_dim,
    )

    rows = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(mat, axis=1)
    n = len(rows)
    s = 0.0
    used = 0
    for i in range(n):
        sims = (mat @ mat[i]) / (nrm * nrm[i])
        sims[i] = -np.inf
        c = np.sort(np.round(sims, 6))[::-1][:2]
        c1, c2 = float(c[0]), float(c[1])
        if c1 < 1.0:
            used += 1
            s += _round_hu(0.5 * math.log((1.0 - c2) / (1.0 - c1)), 10)
    row = x439_twonn_intrinsic_dim(spark, SF).collect()[0]
    assert row["n_points"] == n and row["n_used"] == used
    assert abs(row["sum_log_mu"] - _round_hu(s, 6)) < 1e-9
    assert abs(row["twonn_dim"] - _round_hu(used / s, 4)) < 1e-9
    assert 0 < row["twonn_dim"] < 200


def test_dedup_saturation_matches_bruteforce(spark):
    """x440: replay the first-batch attribution; identities: sum of
    new_distinct equals global distinct count, cum_unique_frac is
    nonincreasing... no -- it DECREASES only when batches re-see
    content; assert cum_distinct monotone and final frac equals
    global distinct/docs."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x440_dedup_saturation,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    nn = max(r["doc_id"] for r in rows) + 1
    first = {}
    docs_per = defaultdict(int)
    for r in rows:
        b = r["doc_id"] * 10 // nn
        docs_per[b] += 1
        h = r["text"].lower()
        first[h] = min(first.get(h, 99), b)
    new_per = defaultdict(int)
    for b in first.values():
        new_per[b] += 1
    got = {r["batch"]: r for r in x440_dedup_saturation(spark, SF).collect()}
    assert set(got) == set(docs_per)
    cum_new = cum_docs = 0
    prev_cum = 0
    for b in sorted(docs_per):
        cum_new += new_per[b]
        cum_docs += docs_per[b]
        r = got[b]
        assert (r["docs"], r["new_distinct"]) == (docs_per[b], new_per[b])
        assert r["cum_distinct"] == cum_new
        assert abs(r["marginal_new_frac"] - _round_hu(new_per[b] / docs_per[b], 6)) < 1e-9
        assert abs(r["cum_unique_frac"] - _round_hu(cum_new / cum_docs, 6)) < 1e-9
        assert r["cum_distinct"] >= prev_cum
        prev_cum = r["cum_distinct"]
    assert cum_new == len(first)


def test_fingerprint_uniformity_matches_bruteforce(spark):
    """x441: replay AD and KS against a pure-Python sorted-sample
    computation; sanity: md5 prefixes should NOT reject uniformity
    on this corpus (that is the property the hash-partitioned ops
    rely on), and a hand-built skewed sample must reject."""
    import hashlib
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x441_fingerprint_uniformity,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    us = sorted(
        (
            int(
                hashlib.md5(r["text"].lower().encode()).hexdigest()[:8], 16
            )
            / 4294967296.0,
            r["doc_id"],
        )
        for r in rows
    )
    n = len(us)
    s = 0.0
    ks = 0.0
    for i, (u, _d) in enumerate(us, start=1):
        s += _round_hu(
            (2 * i - 1) * math.log(u) + (2 * (n - i) + 1) * math.log(1 - u),
            10,
        )
        ks = max(ks, i / n - u, u - (i - 1) / n)
    ad = -n - s / n
    row = x441_fingerprint_uniformity(spark, SF).collect()[0]
    assert row["n"] == n
    assert abs(row["ad_stat"] - _round_hu(ad, 4)) < 1e-9
    assert abs(row["ks_d"] - _round_hu(ks, 6)) < 1e-9
    assert abs(row["ks_scaled"] - _round_hu(math.sqrt(n) * ks, 4)) < 1e-9
    assert row["ad_reject_5pct"] == (ad > 2.492)
    assert row["ks_reject_5pct"] == (math.sqrt(n) * ks > 1.358)
    # the hash should pass uniformity here; a skewed sample must not
    assert not row["ad_reject_5pct"] and not row["ks_reject_5pct"]
    skew = sorted(x * x for x in (i / (n + 1) for i in range(1, n + 1)))
    s2 = sum(
        (2 * i - 1) * math.log(u) + (2 * (n - i) + 1) * math.log(1 - u)
        for i, u in enumerate(skew, start=1)
    )
    assert (-n - s2 / n) > 2.492


def test_kfold_paired_ttest_matches_bruteforce(spark):
    """x442: replay fold-wise tie-corrected AUCs and the paired t in
    pure Python; invariants: AUC in [0,1], the t is identical on
    every output row, stop-ratio AUC beats TTR AUC on this corpus
    (the en signal is real)."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops.text import LANG_STOPWORDS
    from poc_parquet_publisher_spark.queries.extensions import (
        x442_kfold_paired_ttest,
    )

    stop = set(LANG_STOPWORDS["en"])
    rows = (
        load_table(spark, SF, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )

    def auc(pairs):  # [(score, y)]
        bys = defaultdict(lambda: [0, 0])
        for s, y in pairs:
            bys[s][0] += 1
            bys[s][1] += y
        cum = 0
        r2 = 0
        n1 = sum(v[1] for v in bys.values())
        n0 = sum(v[0] - v[1] for v in bys.values())
        for s in sorted(bys):
            n, pos = bys[s]
            r2 += pos * (2 * cum + n + 1)
            cum += n
        return (r2 / 2 - n1 * (n1 + 1) / 2) / (n1 * n0)

    folds = defaultdict(lambda: ([], []))
    for r in rows:
        toks = r["text"].lower().split(" ")
        sa = int(
            math.floor(
                _round_hu(sum(t in stop for t in toks) / len(toks), 4)
                * 10000
                + 0.5
            )
        )
        sb = int(
            math.floor(
                _round_hu(len(set(toks)) / len(toks), 4) * 10000 + 0.5
            )
        )
        y = int(r["lang"] == "en")
        f = r["doc_id"] % 5
        folds[f][0].append((sa, y))
        folds[f][1].append((sb, y))
    diffs = {}
    aucs = {}
    for f, (pa, pb) in folds.items():
        aa, ab = auc(pa), auc(pb)
        aucs[f] = (aa, ab)
        diffs[f] = _round_hu(aa - ab, 10)
    k = len(diffs)
    sd1 = sum(_round_hu(d, 10) for d in diffs.values())
    sd2 = sum(_round_hu(d * d, 12) for d in diffs.values())
    mean = sd1 / k
    sd = math.sqrt((sd2 - sd1 * sd1 / k) / (k - 1))
    t = mean / (sd / math.sqrt(k))
    got = {r["fold"]: r for r in x442_kfold_paired_ttest(spark, SF).collect()}
    assert set(got) == set(folds)
    for f in folds:
        r = got[f]
        assert abs(r["auc_a"] - _round_hu(aucs[f][0], 6)) < 1e-9
        assert abs(r["auc_b"] - _round_hu(aucs[f][1], 6)) < 1e-9
        assert 0.0 <= r["auc_a"] <= 1.0 and 0.0 <= r["auc_b"] <= 1.0
        assert abs(r["t_stat"] - _round_hu(t, 4)) < 1e-9
        assert r["reject_5pct"] == (abs(t) > 2.776445)


def test_ratio_delta_ci_matches_bruteforce(spark):
    """x443: replay the delta-method se from per-user moments; the
    naive se must differ from the delta se (the covariance term is
    real on this data), and the CI must bracket the ratio."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x443_ratio_delta_ci,
    )

    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type", "value")
        .collect()
    )
    yc = defaultdict(int)
    x = defaultdict(int)
    users = set()
    for r in ev:
        users.add(r["user_id"])
        if r["event_type"] == "purchase":
            yc[r["user_id"]] += int(_round_hu(r["value"] * 100, 0))
        elif r["event_type"] == "click":
            x[r["user_id"]] += 1
    n = len(users)
    ys = [yc[u] / 100 for u in users]
    xs = [x[u] for u in users]
    my, mx = sum(ys) / n, sum(xs) / n
    vy = (sum(v * v for v in ys) - sum(ys) ** 2 / n) / (n - 1)
    vx = (sum(v * v for v in xs) - sum(xs) ** 2 / n) / (n - 1)
    cxy = (
        sum(a * b for a, b in zip(ys, xs)) - sum(ys) * sum(xs) / n
    ) / (n - 1)
    ratio = my / mx
    se_d = math.sqrt((vy - 2 * ratio * cxy + ratio * ratio * vx) / n) / mx
    se_n = math.sqrt(vy / n) / mx
    r = x443_ratio_delta_ci(spark, SF).collect()[0]
    assert r["n_users"] == n
    assert abs(r["ratio"] - _round_hu(ratio, 6)) < 1e-6
    assert abs(r["se_delta"] - _round_hu(se_d, 6)) < 1e-6
    assert abs(r["se_naive"] - _round_hu(se_n, 6)) < 1e-6
    assert r["se_delta"] != r["se_naive"]
    assert r["ci_lo"] < r["ratio"] < r["ci_hi"]


def test_hedges_g_matches_bruteforce(spark):
    """x444: replay d, J, g, se; invariants: |g| < |d| (the correction
    shrinks), CI brackets g, sign(g) == sign(mean diff)."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import x444_hedges_g

    ev = load_table(spark, SF, "events").select("user_id", "value").collect()
    arm = {1: [], 0: []}
    for r in ev:
        arm[int(r["user_id"] % 2 == 0)].append(
            int(_round_hu(r["value"] * 100, 0))
        )
    n1, n0 = len(arm[1]), len(arm[0])
    m1, m0 = sum(arm[1]) / n1 / 100, sum(arm[0]) / n0 / 100
    v1 = (sum(v * v for v in arm[1]) - sum(arm[1]) ** 2 / n1) / (n1 - 1) / 10000
    v0 = (sum(v * v for v in arm[0]) - sum(arm[0]) ** 2 / n0) / (n0 - 1) / 10000
    d = (m1 - m0) / math.sqrt(((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2))
    j = 1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)
    g = d * j
    se = math.sqrt((n1 + n0) / (n1 * n0) + g * g / (2.0 * (n1 + n0))) * j
    r = x444_hedges_g(spark, SF).collect()[0]
    assert (r["n1"], r["n0"]) == (n1, n0)
    assert abs(r["cohens_d"] - _round_hu(d, 6)) < 1e-9
    assert abs(r["hedges_g"] - _round_hu(g, 6)) < 1e-9
    assert abs(r["se_g"] - _round_hu(se, 6)) < 1e-9
    assert abs(r["hedges_g"]) < abs(r["cohens_d"]) or r["cohens_d"] == 0
    assert r["ci_lo"] < r["hedges_g"] < r["ci_hi"]
    assert (r["hedges_g"] > 0) == (r["mean_diff"] > 0)


def test_brunner_munzel_matches_scipy_formula(spark):
    """x445: replay BM via the scipy formulation (midranks computed
    from raw values); invariants: p_hat in [0,1] and p_hat relates
    to the W sign (p_hat > 1/2 iff clicks stochastically larger
    iff W > 0)."""
    import math
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x445_brunner_munzel,
    )

    rows = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select("event_type", "value")
        .collect()
    )
    g = {1: [], 0: []}
    for r in rows:
        g[int(r["event_type"] == "click")].append(
            int(_round_hu(r["value"] * 100, 0))
        )

    def midranks(vals, pool):
        cnt = Counter(pool)
        cum = {}
        run = 0
        for v in sorted(cnt):
            cum[v] = run + (cnt[v] + 1) / 2
            run += cnt[v]
        return [cum[v] for v in vals]

    both = g[1] + g[0]
    rc1 = midranks(g[1], both)
    rc0 = midranks(g[0], both)
    rw1 = midranks(g[1], g[1])
    rw0 = midranks(g[0], g[0])
    n1, n0 = len(g[1]), len(g[0])
    m1, m0 = sum(rc1) / n1, sum(rc0) / n0
    s21 = sum(
        _round_hu((a - b - m1 + (n1 + 1) / 2) ** 2, 8)
        for a, b in zip(rc1, rw1)
    ) / (n1 - 1)
    s20 = sum(
        _round_hu((a - b - m0 + (n0 + 1) / 2) ** 2, 8)
        for a, b in zip(rc0, rw0)
    ) / (n0 - 1)
    wstat = n1 * n0 * (m1 - m0) / ((n1 + n0) * math.sqrt(n1 * s21 + n0 * s20))
    num = n1 * s21 + n0 * s20
    df = num * num / (
        (n1 * s21) ** 2 / (n1 - 1) + (n0 * s20) ** 2 / (n0 - 1)
    )
    p_hat = (m1 - (n1 + 1) / 2) / n0
    r = x445_brunner_munzel(spark, SF).collect()[0]
    assert (r["n_click"], r["n_error"]) == (n1, n0)
    assert abs(r["p_hat"] - _round_hu(p_hat, 6)) < 1e-9
    assert abs(r["w_stat"] - _round_hu(wstat, 4)) < 1e-9
    assert abs(r["df"] - _round_hu(df, 2)) < 1e-9
    assert 0.0 <= r["p_hat"] <= 1.0
    assert (r["p_hat"] > 0.5) == (r["w_stat"] > 0)


def test_cluster_robust_se_matches_bruteforce(spark):
    """x446: replay the sandwich from per-user score sums; invariant:
    with per-user treatment and within-user correlation the CR se
    must INFLATE over the naive one, and CR1 > CR0."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x446_cluster_robust_se,
    )

    rows = (
        load_table(spark, SF, "events").select("user_id", "value").collect()
    )
    ev = [
        (r["user_id"], int(r["user_id"] % 2 == 0), int(_round_hu(r["value"] * 100, 0)))
        for r in rows
    ]
    n = len(ev)
    n1 = sum(1 for _u, t, _v in ev if t)
    n0 = n - n1
    mu1 = sum(v for _u, t, v in ev if t) / n1
    mu0 = sum(v for _u, t, v in ev if not t) / n0
    per_user = defaultdict(lambda: [0, 0, 0])
    for u, t, v in ev:
        a = per_user[u]
        a[0] = t
        a[1] += 1
        a[2] += v
    meat = 0.0
    for t, nc, sv in per_user.values():
        xt = (1 - n1 / n) if t else (-n1 / n)
        mu = mu1 if t else mu0
        meat += _round_hu((xt * (sv - nc * mu)) ** 2, 6)
    bread = n1 * n0 / n
    var_cr0 = meat / bread**2 / 10000
    sse = sum(
        _round_hu((v - (mu1 if t else mu0)) ** 2, 6) for _u, t, v in ev
    )
    var_naive = sse / (n - 2) / bread / 10000
    G = len(per_user)
    var_cr1 = var_cr0 * (G / (G - 1)) * ((n - 1) / (n - 2))
    r = x446_cluster_robust_se(spark, SF).collect()[0]
    assert (r["n_events"], r["n_clusters"]) == (n, G)
    assert abs(r["effect"] - _round_hu((mu1 - mu0) / 100, 6)) < 1e-9
    assert abs(r["se_naive"] - _round_hu(math.sqrt(var_naive), 6)) < 1e-9
    assert abs(r["se_cr0"] - _round_hu(math.sqrt(var_cr0), 6)) < 1e-9
    assert abs(r["se_cr1"] - _round_hu(math.sqrt(var_cr1), 6)) < 1e-9
    assert r["se_cr1"] > r["se_cr0"]


def test_heaps_law_fit_matches_bruteforce(spark):
    """x447: replay the prefix vocabulary counts and the log-log OLS;
    invariants: beta in (0, 1) (vocabulary grows sublinearly), R^2
    near 1 on a power-law-ish corpus, v_cum monotone."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x447_heaps_law_fit,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    nn = max(r["doc_id"] for r in rows) + 1
    first = {}
    toks_per = defaultdict(int)
    for r in rows:
        b = r["doc_id"] * 10 // nn
        toks = r["text"].lower().split(" ")
        for i in range(len(toks) - 2):
            w = " ".join(toks[i : i + 3])
            toks_per[b] += 1
            if w not in first or first[w] > b:
                first[w] = b
    newv = defaultdict(int)
    for b in first.values():
        newv[b] += 1
    pts = []
    ncum = vcum = 0
    for b in sorted(toks_per):
        ncum += toks_per[b]
        vcum += newv[b]
        pts.append((b, ncum, vcum))
    k = len(pts)
    sx = sum(_round_hu(math.log(p[1]), 12) for p in pts)
    sy = sum(_round_hu(math.log(p[2]), 12) for p in pts)
    sxy = sum(_round_hu(math.log(p[1]) * math.log(p[2]), 12) for p in pts)
    sxx = sum(_round_hu(math.log(p[1]) ** 2, 12) for p in pts)
    syy = sum(_round_hu(math.log(p[2]) ** 2, 12) for p in pts)
    beta = (sxy - sx * sy / k) / (sxx - sx * sx / k)
    alpha = (sy - beta * sx) / k
    r2 = (sxy - sx * sy / k) ** 2 / ((sxx - sx * sx / k) * (syy - sy * sy / k))
    got = {r["batch"]: r for r in x447_heaps_law_fit(spark, SF).collect()}
    assert set(got) == {p[0] for p in pts}
    prev_v = 0
    for b, ncum, vcum in pts:
        r = got[b]
        assert (r["n_tokens_cum"], r["v_types_cum"]) == (ncum, vcum)
        assert abs(r["heaps_beta"] - _round_hu(beta, 6)) < 1e-9
        assert abs(r["heaps_k"] - _round_hu(math.exp(alpha), 4)) < 1e-9
        assert abs(r["r_squared"] - _round_hu(r2, 6)) < 1e-9
        assert r["v_types_cum"] >= prev_v
        prev_v = r["v_types_cum"]
    assert 0.0 < got[0]["heaps_beta"] < 1.0
    assert got[0]["r_squared"] > 0.9


def test_ktruss_matches_bruteforce(spark):
    """x448: replay the 3-round peel on a networkx-free pure-Python
    triangle counter; invariants: edges_kept <= edges_in each round,
    every kept edge sits in >= 1 triangle of its round's graph, and
    the peel is monotone (edge sets shrink)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import x448_ktruss

    rows = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in rows:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    pair_n = defaultdict(int)
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    edges = {p for p, n in pair_n.items() if n >= 2}

    def peel(e):
        eset = set(e)
        adj = defaultdict(set)
        for u, v in eset:
            adj[u].add(v)
        tris = []
        for u, v in eset:
            for c in adj[v]:
                if (u, c) in eset:
                    tris.append((u, v, c))
        supp = defaultdict(int)
        for a, b, c in tris:
            supp[(a, b)] += 1
            supp[(b, c)] += 1
            supp[(a, c)] += 1
        kept = {p for p in eset if supp[p] >= 1}
        return len(tris), kept

    got = {r["round"]: r for r in x448_ktruss(spark, SF).collect()}
    cur = edges
    for rnd in range(3):
        tris, kept = peel(cur)
        r = got[rnd]
        assert r["edges_in"] == len(cur)
        assert r["triangles"] == tris
        assert r["edges_kept"] == len(kept)
        assert len(kept) <= len(cur)
        cur = kept


def test_hamilton_apportionment_properties(spark):
    """x449: replay the integer allocation; pinned properties: the
    final quotas sum EXACTLY to the budget, every source satisfies
    quota (|final - exact| < 1), and extras go to the largest
    remainders."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x449_hamilton_apportionment,
    )

    rows = (
        load_table(spark, SF, "documents").select("source", "text").collect()
    )
    from collections import defaultdict

    w = defaultdict(int)
    for r in rows:
        w[r["source"]] += len(r["text"].lower().split(" "))
    W = sum(w.values())
    B = 10007
    base = {s: B * t // W for s, t in w.items()}
    rem = {s: B * w[s] - base[s] * W for s in w}
    leftover = B - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    extra = set(order[:leftover])
    got = {
        r["source"]: r
        for r in x449_hamilton_apportionment(spark, SF).collect()
    }
    assert set(got) == set(w)
    total = 0
    for s in w:
        r = got[s]
        assert r["tokens"] == w[s]
        assert r["base_quota"] == base[s]
        assert r["got_extra"] == (s in extra)
        assert r["final_quota"] == base[s] + (s in extra)
        exact = B * w[s] / W
        assert abs(r["final_quota"] - exact) < 1.0
        total += r["final_quota"]
    assert total == B


def test_dunn_posthoc_matches_bruteforce(spark):
    """x450: replay pairwise Dunn z from raw midranks; invariants:
    z antisymmetry is absorbed by the a<b pairing, and the pair set
    is all C(5,2)=10 type pairs."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x450_dunn_posthoc,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("event_type", "value")
        .collect()
    )
    vals = defaultdict(list)
    for r in rows:
        vals[r["event_type"]].append(int(_round_hu(r["value"] * 100, 0)))
    pool = [v for g in vals.values() for v in g]
    cnt = Counter(pool)
    cum = {}
    run = 0
    for v in sorted(cnt):
        cum[v] = run + (cnt[v] + 1) / 2
        run += cnt[v]
    n = len(pool)
    t3 = sum(c**3 - c for c in cnt.values())
    var_base = n * (n + 1) / 12.0 - t3 / (12.0 * (n - 1))
    mbar = {g: sum(cum[v] for v in vs) / len(vs) for g, vs in vals.items()}
    got = {
        (r["group_a"], r["group_b"]): r
        for r in x450_dunn_posthoc(spark, SF).collect()
    }
    gs = sorted(vals)
    expect_pairs = {(a, b) for i, a in enumerate(gs) for b in gs[i + 1:]}
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        z = (mbar[a] - mbar[b]) / math.sqrt(
            var_base * (1 / len(vals[a]) + 1 / len(vals[b]))
        )
        assert (r["n_a"], r["n_b"]) == (len(vals[a]), len(vals[b]))
        assert abs(r["z_stat"] - _round_hu(z, 4)) < 1e-9
        assert r["reject_bonferroni_5pct"] == (abs(z) > 2.807034)


def test_mase_backtest_matches_bruteforce(spark):
    """x452: replay the seasonal-naive backtest; invariants: exactly
    6 test days per type, MASE positive, and sMAPE in [0, 2]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x452_mase_backtest,
    )

    rows = load_table(spark, SF, "events").select("event_type", "ts").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in rows:
        daily[r["event_type"]][r["ts"].date()] += 1
    got = {r["event_type"]: r for r in x452_mase_backtest(spark, SF).collect()}
    assert set(got) == set(daily)
    for et, bydays in daily.items():
        days = sorted(bydays)
        ys = [bydays[d] for d in days]
        k = len(ys)
        ae = [
            (i, abs(ys[i] - ys[i - 7]))
            for i in range(7, k)
        ]
        train = [(i, a) for i, a in ae if i < k - 6]
        test = [(i, a) for i, a in ae if i >= k - 6]
        sm = [
            _round_hu(
                2.0 * abs(ys[i] - ys[i - 7]) / (abs(ys[i]) + abs(ys[i - 7])),
                10,
            )
            for i in range(k - 6, k)
        ]
        r = got[et]
        assert r["n_test"] == 6 and len(test) == 6
        assert r["n_train_naive"] == len(train)
        mae_test = sum(a for _i, a in test) / 6
        mae_train = sum(a for _i, a in train) / len(train)
        assert abs(r["mae_test"] - _round_hu(mae_test, 4)) < 1e-9
        assert abs(r["mase"] - _round_hu(mae_test / mae_train, 6)) < 1e-9
        assert abs(r["smape"] - _round_hu(sum(sm) / 6, 6)) < 1e-9
        assert r["mase"] > 0 and 0 <= r["smape"] <= 2


def test_binary_segmentation_matches_bruteforce(spark):
    """x453: brute-force every split in Python and confirm the argmax
    (min-day ties) and segment means; invariant: the chosen F is the
    max over all splits."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x453_binary_segmentation,
    )

    rows = load_table(spark, SF, "events").select("ts").collect()
    byday = defaultdict(int)
    for r in rows:
        byday[r["ts"].date()] += 1
    days = sorted(byday)
    ys = [byday[d] for d in days]
    k = len(ys)
    sy, syy = sum(ys), sum(v * v for v in ys)
    sst = syy - sy * sy / k
    best = None
    for i in range(1, k):
        cs = sum(ys[:i])
        ml, mr, gm = cs / i, (sy - cs) / (k - i), sy / k
        ssb = i * (ml - gm) ** 2 + (k - i) * (mr - gm) ** 2
        f = _round_hu(ssb / ((sst - ssb) / (k - 2)), 6)
        if best is None or f > best[0]:
            best = (f, days[i - 1], i, ml, mr)
    r = x453_binary_segmentation(spark, SF).collect()[0]
    assert r["split_after_day"] == best[1]
    assert r["n_left"] == best[2]
    assert abs(r["mean_left"] - _round_hu(best[3], 4)) < 1e-9
    assert abs(r["mean_right"] - _round_hu(best[4], 4)) < 1e-9
    assert abs(r["f_stat"] - _round_hu(best[0], 4)) < 1e-9


def test_shapley_attribution_axioms(spark):
    """x454: replay the exact 3-player Shapley from coalition worths;
    pinned axioms: EFFICIENCY (credits sum to v(full) - v(empty))
    and SYMMETRY-free sanity (each credit finite)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x454_shapley_attribution,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .collect()
    )
    bit = {"view": 1, "click": 2, "signup": 4}
    mask = defaultdict(int)
    conv = defaultdict(int)
    for r in rows:
        if r["event_type"] in bit:
            mask[r["user_id"]] |= bit[r["event_type"]]
        elif r["event_type"] == "purchase":
            conv[r["user_id"]] = 1
        else:
            mask[r["user_id"]] |= 0
    users = set(r["user_id"] for r in rows)
    nu = len(users)

    def v(S):
        return (
            sum(conv.get(u, 0) for u in users if mask.get(u, 0) & ~S == 0)
            / nu
        )

    import math

    weights = {0: 2 / 6, 1: 1 / 6, 2: 2 / 6}
    phi = {}
    for ch, b in bit.items():
        tot = 0.0
        for S in range(8):
            if S & b:
                continue
            tot += weights[bin(S).count("1")] * (v(S | b) - v(S))
        phi[ch] = tot
    got = {r["channel"]: r for r in x454_shapley_attribution(spark, SF).collect()}
    assert set(got) == set(bit)
    span = v(7) - v(0)
    share_sum = 0.0
    for ch in bit:
        r = got[ch]
        assert abs(r["shapley_credit"] - _round_hu(phi[ch], 6)) < 1e-9
        assert math.isfinite(r["shapley_credit"])
        if span:
            share_sum += r["credit_share"]
    assert abs(sum(phi.values()) - span) < 1e-12  # efficiency axiom
    if span:
        assert abs(share_sum - 1.0) < 1e-4


def test_yuen_trimmed_t_matches_bruteforce(spark):
    """x451: replay trimmed means / winsorized variances by actually
    sorting and trimming in Python -- the domain-cumsum order
    statistics must agree with real order statistics exactly."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x451_yuen_trimmed_t,
    )

    rows = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select("event_type", "value")
        .collect()
    )
    g = {1: [], 0: []}
    for r in rows:
        g[int(r["event_type"] == "click")].append(
            int(_round_hu(r["value"] * 100, 0))
        )

    def stats(vals):
        vs = sorted(vals)
        n = len(vs)
        gg = n // 5
        h = n - 2 * gg
        mid = vs[gg : n - gg]
        tmean = sum(mid) / h / 100
        wins = [vs[gg]] * gg + mid + [vs[n - gg - 1]] * gg
        ws, ws2 = sum(wins), sum(v * v for v in wins)
        s2w = (ws2 - ws * ws / n) / (n - 1) / 10000
        d = s2w * (n - 1) / (h * (h - 1))
        return n, h, tmean, d

    n1, h1, m1, d1 = stats(g[1])
    n0, h0, m0, d0 = stats(g[0])
    t = (m1 - m0) / math.sqrt(d1 + d0)
    df = (d1 + d0) ** 2 / (d1 * d1 / (h1 - 1) + d0 * d0 / (h0 - 1))
    r = x451_yuen_trimmed_t(spark, SF).collect()[0]
    assert (r["n_click"], r["n_error"]) == (n1, n0)
    assert (r["h_click"], r["h_error"]) == (h1, h0)
    assert abs(r["tmean_click"] - _round_hu(m1, 6)) < 1e-9
    assert abs(r["tmean_error"] - _round_hu(m0, 6)) < 1e-9
    assert abs(r["yuen_t"] - _round_hu(t, 4)) < 1e-9
    assert abs(r["df"] - _round_hu(df, 2)) < 1e-9


def test_powerlaw_alpha_matches_bruteforce(spark):
    """x455: replay the CSN MLE from Python-computed degrees;
    invariants: alpha > 1 (the estimator's range) and se > 0."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x455_powerlaw_alpha,
    )

    rows = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in rows:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    pair_n = defaultdict(int)
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    deg = defaultdict(int)
    for (u, v), n in pair_n.items():
        if n >= 2:
            deg[u] += 1
            deg[v] += 1
    dmin = min(deg.values())
    nn = len(deg)
    slog = sum(_round_hu(math.log(d / (dmin - 0.5)), 12) for d in deg.values())
    alpha = 1.0 + nn / slog
    r = x455_powerlaw_alpha(spark, SF).collect()[0]
    assert (r["n_nodes"], r["dmin"]) == (nn, dmin)
    assert abs(r["alpha_mle"] - _round_hu(alpha, 4)) < 1e-9
    assert abs(r["alpha_se"] - _round_hu((alpha - 1) / math.sqrt(nn), 6)) < 1e-9
    assert r["alpha_mle"] > 1.0 and r["alpha_se"] > 0


def test_session_gap_sensitivity_matches_bruteforce(spark):
    """x456: replay per-threshold session counts; pinned identity:
    sessions(threshold) = users + gaps exceeding it, and the count
    is NONINCREASING in the threshold."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x456_session_gap_sensitivity,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    per = defaultdict(list)
    for r in rows:
        per[r["user_id"]].append((r["ts"], r["event_id"]))
    gaps = []
    for u, ts in per.items():
        ts.sort()
        for i in range(1, len(ts)):
            gaps.append(
                (ts[i][0] - ts[i - 1][0]).total_seconds() * 1_000_000
            )
    n_events = len(rows)
    n_users = len(per)
    got = {
        r["gap_min"]: r
        for r in x456_session_gap_sensitivity(spark, SF).collect()
    }
    assert set(got) == {15, 30, 60, 120}
    prev = None
    for t in (15, 30, 60, 120):
        exceed = sum(1 for gp in gaps if gp > t * 60_000_000)
        sessions = n_users + exceed
        r = got[t]
        assert r["n_sessions"] == sessions
        assert abs(
            r["mean_session_events"] - _round_hu(n_events / sessions, 4)
        ) < 1e-9
        assert abs(
            r["split_rate"] - _round_hu(exceed / len(gaps), 6)
        ) < 1e-9
        if prev is not None:
            assert r["n_sessions"] <= prev
        prev = r["n_sessions"]


def test_exponential_gap_test_matches_bruteforce(spark):
    """x457: replay the Lilliefors KS sup over the gap CDF steps;
    sanity: a genuine exponential sample (inverse-CDF of md5
    uniforms) must NOT reject."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x457_exponential_gap_test,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    per = defaultdict(list)
    for r in rows:
        per[r["user_id"]].append((r["ts"], r["event_id"]))
    gaps = []
    for u, ts in per.items():
        ts.sort()
        for i in range(1, len(ts)):
            gp = int(
                round((ts[i][0] - ts[i - 1][0]).total_seconds() * 1_000_000)
            )
            if gp > 0:
                gaps.append(gp)
    n = len(gaps)
    mean = sum(gaps) / n
    cnt = Counter(gaps)
    cum = 0
    d = 0.0
    for v in sorted(cnt):
        fe = 1.0 - math.exp(-v / mean)
        d = max(d, (cum + cnt[v]) / n - fe, fe - cum / n)
        cum += cnt[v]
    r = x457_exponential_gap_test(spark, SF).collect()[0]
    assert r["n_gaps"] == n
    assert abs(r["mean_gap_sec"] - _round_hu(mean / 1e6, 4)) < 1e-9
    assert abs(r["ks_d"] - _round_hu(d, 6)) < 1e-6
    assert r["reject_lilliefors_5pct"] == (math.sqrt(n) * d > 1.094)
    # control: an exact exponential sample passes
    us = [
        int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32
        for i in range(2000)
    ]
    ex = [-math.log(1 - u) for u in us]
    m2 = sum(ex) / len(ex)
    ex.sort()
    d2 = max(
        max((i + 1) / len(ex) - (1 - math.exp(-v / m2)),
            (1 - math.exp(-v / m2)) - i / len(ex))
        for i, v in enumerate(ex)
    )
    assert math.sqrt(len(ex)) * d2 <= 1.094


def test_hill_diversity_matches_bruteforce(spark):
    """x458: replay the Hill profile; pinned ordering D0 >= D1 >= D2
    (the diversity-profile inequality) and evenness in (0, 1]."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x458_hill_diversity,
    )

    rows = (
        load_table(spark, SF, "documents").select("lang", "source").collect()
    )
    c = defaultdict(Counter)
    for r in rows:
        c[r["lang"]][r["source"]] += 1
    got = {r["lang"]: r for r in x458_hill_diversity(spark, SF).collect()}
    assert set(got) == set(c)
    for lang, cnt in c.items():
        nl = sum(cnt.values())
        sh = sum(
            _round_hu((n / nl) * math.log(n / nl), 12)
            for n in cnt.values()
        )
        d0 = len(cnt)
        d1 = math.exp(-sh)
        d2 = 1.0 / (
            sum(n * (n - 1) for n in cnt.values()) / (nl * (nl - 1))
        )
        r = got[lang]
        assert r["hill_d0"] == d0
        assert abs(r["hill_d1"] - _round_hu(d1, 4)) < 1e-9
        assert abs(r["hill_d2"] - _round_hu(d2, 4)) < 1e-9
        assert abs(r["evenness"] - _round_hu(d1 / d0, 6)) < 1e-9
        # D0 >= D1 always; the UNBIASED D2 (n(n-1)/(N(N-1))) can
        # exceed D1 near-uniform mixes, so the profile inequality is
        # checked against the PLUG-IN Simpson instead
        d2_plugin = 1.0 / sum((n / nl) ** 2 for n in cnt.values())
        assert r["hill_d0"] >= r["hill_d1"] >= d2_plugin - 1e-6
        assert 0 < r["evenness"] <= 1.0 + 1e-9


def test_auc_confidence_matches_bruteforce(spark):
    """x459: replay the tie-corrected AUC and the Hanley-McNeil se;
    invariants: CI inside [0,1] and brackets the AUC."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops.text import LANG_STOPWORDS
    from poc_parquet_publisher_spark.queries.extensions import (
        x459_auc_confidence,
    )

    stop = set(LANG_STOPWORDS["en"])
    rows = load_table(spark, SF, "documents").select("lang", "text").collect()
    bys = defaultdict(lambda: [0, 0])
    for r in rows:
        toks = r["text"].lower().split(" ")
        s = int(
            math.floor(
                _round_hu(sum(t in stop for t in toks) / len(toks), 4)
                * 10000
                + 0.5
            )
        )
        bys[s][0] += 1
        bys[s][1] += int(r["lang"] == "en")
    cum = 0
    r2 = 0
    n1 = sum(v[1] for v in bys.values())
    n0 = sum(v[0] - v[1] for v in bys.values())
    for s in sorted(bys):
        n, pos = bys[s]
        r2 += pos * (2 * cum + n + 1)
        cum += n
    a = (r2 / 2 - n1 * (n1 + 1) / 2) / (n1 * n0)
    q1 = a / (2 - a)
    q2 = 2 * a * a / (1 + a)
    se = math.sqrt(
        (a * (1 - a) + (n1 - 1) * (q1 - a * a) + (n0 - 1) * (q2 - a * a))
        / (n1 * n0)
    )
    r = x459_auc_confidence(spark, SF).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (n1, n0)
    assert abs(r["auc"] - _round_hu(a, 6)) < 1e-9
    assert abs(r["se_hanley_mcneil"] - _round_hu(se, 6)) < 1e-9
    assert 0.0 <= r["ci_lo"] <= r["auc"] <= r["ci_hi"] <= 1.0
    assert r["better_than_chance_5pct"] == (a - 1.959964 * se > 0.5)


def test_newcombe_diff_ci_matches_bruteforce(spark):
    """x460: replay Wilson bounds per arm and the hybrid difference
    CI; invariants: CI brackets the diff and is NARROWER than the
    sum of the arm interval widths."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x460_newcombe_diff_ci,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .collect()
    )
    conv = defaultdict(int)
    users = set()
    for r in rows:
        users.add(r["user_id"])
        if r["event_type"] == "purchase":
            conv[r["user_id"]] = 1
    z = 1.959964

    def wilson(x, n):
        p = x / n
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        c = p + z * z / (2 * n)
        d = 1 + z * z / n
        return p, (c - half) / d, (c + half) / d

    arm = {1: [0, 0], 0: [0, 0]}
    for u in users:
        t = int(u % 2 == 0)
        arm[t][0] += 1
        arm[t][1] += conv.get(u, 0)
    (n1, x1), (n0, x0) = arm[1], arm[0]
    p1, lo1, hi1 = wilson(x1, n1)
    p0, lo0, hi0 = wilson(x0, n0)
    diff = p1 - p0
    lo = diff - math.sqrt((p1 - lo1) ** 2 + (hi0 - p0) ** 2)
    hi = diff + math.sqrt((hi1 - p1) ** 2 + (p0 - lo0) ** 2)
    r = x460_newcombe_diff_ci(spark, SF).collect()[0]
    assert (r["n_treat"], r["x_treat"], r["n_ctrl"], r["x_ctrl"]) == (
        n1,
        x1,
        n0,
        x0,
    )
    assert abs(r["diff"] - _round_hu(diff, 6)) < 1e-9
    assert abs(r["ci_lo"] - _round_hu(lo, 6)) < 1e-9
    assert abs(r["ci_hi"] - _round_hu(hi, 6)) < 1e-9
    assert r["ci_lo"] <= r["diff"] <= r["ci_hi"]
    assert (r["ci_hi"] - r["ci_lo"]) <= (hi1 - lo1) + (hi0 - lo0) + 1e-12


def test_ccf_lag_matches_bruteforce(spark):
    """x461: replay the lagged Pearson r and the tie-broken argmax;
    invariants: ccf in [-1, 1], pair counts shrink with |lag|."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import x461_ccf_lag

    rows = load_table(spark, SF, "events").select("ts", "event_type").collect()
    byday = defaultdict(lambda: [0, 0])
    for r in rows:
        d = r["ts"].date()
        if r["event_type"] == "click":
            byday[d][0] += 1
        elif r["event_type"] == "purchase":
            byday[d][1] += 1
    days = sorted(byday)
    xs = [byday[d][0] for d in days]
    ys = [byday[d][1] for d in days]
    k_days = len(days)

    def pearson(pairs):
        k = len(pairs)
        sx = sum(a for a, _ in pairs)
        sy = sum(b for _, b in pairs)
        sxy = sum(a * b for a, b in pairs)
        sxx = sum(a * a for a, _ in pairs)
        syy = sum(b * b for _, b in pairs)
        return _round_hu(
            (sxy - sx * sy / k)
            / ((sxx - sx * sx / k) * (syy - sy * sy / k)) ** 0.5,
            6,
        )

    exp = {}
    for lag in range(-7, 8):
        pairs = [
            (xs[i], ys[i + lag])
            for i in range(k_days)
            if 0 <= i + lag < k_days
        ]
        exp[lag] = (len(pairs), pearson(pairs))
    best = min(
        (int(1000000 * (1.0 - abs(c))) * 100 + lag + 50)
        for lag, (_n, c) in exp.items()
    )
    best_lag = best % 100 - 50
    got = {r["lag"]: r for r in x461_ccf_lag(spark, SF).collect()}
    assert set(got) == set(exp)
    for lag, (n, c) in exp.items():
        r = got[lag]
        assert r["n_pairs"] == n
        assert abs(r["ccf"] - c) < 1e-9
        assert -1.0 <= r["ccf"] <= 1.0
        assert r["best_lag"] == best_lag
        assert r["n_pairs"] <= exp[0][0]


def test_repetition_decay_matches_bruteforce(spark):
    """x462: replay match probabilities per (lang, distance) in pure
    Python; invariants: p_match in [0,1], pair counts decrease with
    distance."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x462_repetition_decay,
    )

    rows = load_table(spark, SF, "documents").select("lang", "text").collect()
    m = defaultdict(int)
    np_ = defaultdict(int)
    uni = defaultdict(lambda: defaultdict(int))
    for r in rows:
        toks = r["text"].lower().split(" ")
        for d in range(1, 9):
            np_[(r["lang"], d)] += max(len(toks) - d, 0)
            m[(r["lang"], d)] += sum(
                1 for i in range(len(toks) - d) if toks[i] == toks[i + d]
            )
        for t in toks:
            uni[r["lang"]][t] += 1
    got = {
        (r["lang"], r["distance"]): r
        for r in x462_repetition_decay(spark, SF).collect()
    }
    assert set(got) == set(np_)
    for (lang, d), r in got.items():
        assert r["n_pairs"] == np_[(lang, d)]
        p = m[(lang, d)] / np_[(lang, d)]
        assert abs(r["p_match"] - _round_hu(p, 6)) < 1e-9
        n = sum(uni[lang].values())
        simpson = sum(c * (c - 1) for c in uni[lang].values()) / (
            n * (n - 1)
        )
        assert abs(r["lift_over_unigram"] - _round_hu(p / simpson, 4)) < 1e-9
        assert 0.0 <= r["p_match"] <= 1.0
        if d > 1:
            assert r["n_pairs"] <= got[(lang, d - 1)]["n_pairs"]


def test_hill_tail_index_matches_bruteforce(spark):
    """x463: replay the Hill estimator by actually sorting values;
    invariants: gamma > 0, the threshold is the (k+1)-th largest."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x463_hill_tail_index,
    )

    rows = load_table(spark, SF, "events").select("value").collect()
    vals = sorted(
        (int(_round_hu(r["value"] * 100, 0)) for r in rows), reverse=True
    )
    n = len(vals)
    kk = n // 10
    vk = vals[kk]  # the (k+1)-th largest (0-indexed kk)
    above = [v for v in vals if v > vk]
    slog = sum(
        _round_hu(cnt * math.log(v / vk), 12)
        for v, cnt in __import__("collections").Counter(above).items()
    )
    r = x463_hill_tail_index(spark, SF).collect()[0]
    assert (r["n"], r["k_tail"]) == (n, kk)
    assert r["threshold_cents"] == vk
    assert r["n_above"] == len(above)
    assert abs(r["hill_gamma"] - _round_hu(slog / len(above), 6)) < 1e-9
    assert abs(r["tail_alpha"] - _round_hu(len(above) / slog, 4)) < 1e-9
    assert r["hill_gamma"] > 0


def test_langid_confusion_matches_bruteforce(spark):
    """x464: replay the confusion metrics against ops.text.lang_id's
    own predictions collected row by row; identities: sum(n_true) =
    sum(n_pred) = corpus size, macro_f1 = mean of per-lang f1."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops import text as text_ops
    from poc_parquet_publisher_spark.queries.extensions import (
        x464_langid_confusion,
    )

    docs = load_table(spark, SF, "documents")
    preds = {
        r["doc_id"]: r["pred_lang"]
        for r in text_ops.lang_id(docs, "doc_id", "text").collect()
    }
    truth = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", "lang").collect()
    }
    n_true = defaultdict(int)
    n_pred = defaultdict(int)
    correct = defaultdict(int)
    for d, t in truth.items():
        n_true[t] += 1
        n_pred[preds[d]] += 1
        if preds[d] == t:
            correct[t] += 1
    got = {
        r["true_lang"]: r for r in x464_langid_confusion(spark, SF).collect()
    }
    assert set(got) == set(n_true)
    f1s = []
    for lang in n_true:
        r = got[lang]
        assert r["n_true"] == n_true[lang]
        assert r["n_pred"] == n_pred.get(lang, 0)
        assert r["correct"] == correct[lang]
        rec = correct[lang] / n_true[lang]
        assert abs(r["recall_"] - _round_hu(rec, 6)) < 1e-9
        if n_pred.get(lang, 0) > 0:
            prec = correct[lang] / n_pred[lang]
            assert abs(r["precision_"] - _round_hu(prec, 6)) < 1e-9
            f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        else:
            f1 = 0.0
        f1s.append(_round_hu(f1, 10))
        assert abs(r["f1"] - _round_hu(f1, 6)) < 1e-9
    macro = sum(f1s) / len(f1s)
    for r in got.values():
        assert abs(r["macro_f1"] - _round_hu(macro, 6)) < 1e-9
    assert sum(n_true.values()) == sum(n_pred.values()) == len(truth)


def test_source_js_pairs_matches_bruteforce(spark):
    """x465: replay the pairwise JS in Python and verify the shared-
    vocabulary premise (every source emits every token, so the
    equi-join covers both supports) plus JS bounds [0, ln 2]."""
    import math
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x465_source_js_pairs,
    )

    rows = load_table(spark, SF, "documents").select("source", "text").collect()
    c = defaultdict(Counter)
    for r in rows:
        c[r["source"]].update(r["text"].lower().split(" "))
    dists = {
        s: {w: n / sum(cnt.values()) for w, n in cnt.items()}
        for s, cnt in c.items()
    }
    ln2 = math.log(2)

    def js(a, b):
        shared = set(dists[a]) & set(dists[b])
        tot = sum(
            _round_hu(
                0.5 * dists[a][w] * math.log(dists[a][w] / ((dists[a][w] + dists[b][w]) / 2))
                + 0.5 * dists[b][w] * math.log(dists[b][w] / ((dists[a][w] + dists[b][w]) / 2)),
                12,
            )
            for w in shared
        )
        # one-sided mass: each absent-on-the-other-side token adds
        # 0.5*p*ln2 (this is the full JS, not a truncation)
        tot += 0.5 * ln2 * (1 - sum(_round_hu(dists[a][w], 12) for w in shared))
        tot += 0.5 * ln2 * (1 - sum(_round_hu(dists[b][w], 12) for w in shared))
        return tot

    srcs = sorted(dists)
    alljs = {
        (a, b): js(a, b)
        for i, a in enumerate(srcs)
        for b in srcs[i + 1:]
    }
    mean_js = sum(_round_hu(v, 10) for v in alljs.values()) / len(alljs)
    top = sorted(alljs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = x465_source_js_pairs(spark, SF).collect()
    assert len(got) == 10
    for r, ((a, b), v) in zip(got, top):
        assert (r["src_a"], r["src_b"]) == (a, b)
        assert abs(r["js_divergence"] - _round_hu(v, 6)) < 1e-9
        assert 0.0 <= r["js_divergence"] <= math.log(2) + 1e-9
        assert abs(r["corpus_mean_js"] - _round_hu(mean_js, 6)) < 1e-9


def test_minhash_calibration_matches_bruteforce(spark):
    """x466: replay the block-pair estimator curve in pure Python
    (same md5 slice math); invariants: mean_exact is inside its bin,
    and the estimator's MAE is bounded by the binomial sd envelope
    (~0.18 at 8 components) plus bin width."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x466_minhash_calibration,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()

    def shingles(text):
        toks = text.lower().split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def sig(sh):
        out = []
        for salt in (0, 1):
            digs = [
                hashlib.md5(f"{salt}:{s}".encode()).hexdigest() for s in sh
            ]
            for off in (0, 8, 16, 24):
                out.append(min(d[off : off + 8] for d in digs))
        return out

    docs = []
    for r in rows:
        sh = shingles(r["text"])
        if sh:
            docs.append((r["doc_id"], r["doc_id"] // 50, sh, sig(sh)))
    byblk = defaultdict(list)
    for d in docs:
        byblk[d[1]].append(d)
    bins = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for blk, ds in byblk.items():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = ds[i], ds[j]
                inter = len(a[2] & b[2])
                jac = _round_hu(inter / (len(a[2]) + len(b[2]) - inter), 6)
                est = sum(x == y for x, y in zip(a[3], b[3])) / 8.0
                bn = min(int(jac * 10), 9)
                acc = bins[bn]
                acc[0] += 1
                acc[1] += _round_hu(est, 6)
                acc[2] += _round_hu(jac, 6)
                acc[3] += _round_hu(abs(est - jac), 8)
    got = {r["bin"]: r for r in x466_minhash_calibration(spark, SF).collect()}
    assert set(got) == set(bins)
    for bn, (n, se, sj, sm) in bins.items():
        r = got[bn]
        assert r["n_pairs"] == n
        assert abs(r["mean_est"] - _round_hu(se / n, 6)) < 1e-9
        assert abs(r["mean_exact"] - _round_hu(sj / n, 6)) < 1e-9
        assert abs(r["mae"] - _round_hu(sm / n, 6)) < 1e-9
        assert bn / 10 - 1e-9 <= r["mean_exact"] <= bn / 10 + 0.1 + 1e-9
        assert r["mae"] <= 0.18 + 0.1 + 1e-9


def test_tost_equivalence_matches_bruteforce(spark):
    """x467: replay TOST from the same moments; consistency: the
    one-sided t's straddle the plain t, and equivalence requires
    |diff| < margin (necessary condition)."""
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x467_tost_equivalence,
    )

    ev = load_table(spark, SF, "events").select("user_id", "value").collect()
    arm = {1: [], 0: []}
    for r in ev:
        arm[int(r["user_id"] % 2 == 0)].append(
            int(_round_hu(r["value"] * 100, 0))
        )
    n1, n0 = len(arm[1]), len(arm[0])
    m1, m0 = sum(arm[1]) / n1 / 100, sum(arm[0]) / n0 / 100
    v1 = (sum(v * v for v in arm[1]) - sum(arm[1]) ** 2 / n1) / (n1 - 1) / 10000
    v0 = (sum(v * v for v in arm[0]) - sum(arm[0]) ** 2 / n0) / (n0 - 1) / 10000
    d = m1 - m0
    se = math.sqrt(v1 / n1 + v0 / n0)
    margin = 0.05 * math.sqrt(((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2))
    tl, tu = (d + margin) / se, (margin - d) / se
    r = x467_tost_equivalence(spark, SF).collect()[0]
    assert (r["n1"], r["n0"]) == (n1, n0)
    assert abs(r["t_lower"] - _round_hu(tl, 4)) < 1e-9
    assert abs(r["t_upper"] - _round_hu(tu, 4)) < 1e-9
    assert r["equivalent_5pct"] == (tl > 1.644854 and tu > 1.644854)
    if r["equivalent_5pct"]:
        assert abs(r["diff"]) < r["margin"]


def test_randomized_response_matches_bruteforce(spark):
    """x468: replay the md5 coins and the debiasing; invariants: the
    debiased estimate lands within 4 se of the in-hand truth, and
    epsilon = ln 7 for this (3/4, 1/2) mechanism."""
    import hashlib
    import math

    from poc_parquet_publisher_spark.queries.extensions import (
        x468_randomized_response,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .collect()
    )
    truth = {}
    for r in rows:
        truth.setdefault(r["user_id"], 0)
        if r["event_type"] == "purchase":
            truth[r["user_id"]] = 1

    def hexpos(prefix, u):
        return int(
            hashlib.md5(f"{prefix}{u}".encode()).hexdigest()[0], 16
        )

    n = len(truth)
    n_true = sum(truth.values())
    n_yes = 0
    for u, t in truth.items():
        keep = hexpos("keep:", u) < 12
        coin = int(hexpos("coin:", u) < 8)
        n_yes += t if keep else coin
    obs = n_yes / n
    deb = (obs - 0.125) / 0.75
    se = math.sqrt(obs * (1 - obs) / n) / 0.75
    r = x468_randomized_response(spark, SF).collect()[0]
    assert (r["n"], r["n_true"], r["n_yes"]) == (n, n_true, n_yes)
    assert abs(r["debiased_rate"] - _round_hu(deb, 6)) < 1e-9
    assert abs(r["debiased_se"] - _round_hu(se, 6)) < 1e-9
    assert abs(r["realized_error"] - _round_hu(abs(deb - n_true / n), 6)) < 1e-9
    assert abs(deb - n_true / n) < 4 * se
    # the mechanism's privacy budget (documentation-level pin)
    p_keep, p_coin = 0.75, 0.5
    eps = math.log(
        (p_keep + (1 - p_keep) * p_coin) / ((1 - p_keep) * p_coin)
    )
    assert abs(eps - math.log(7)) < 1e-12


def test_burstiness_memory_matches_bruteforce(spark):
    """x469: replay B and M from per-user gap sequences; invariants:
    B in (-1, 1), M in [-1, 1]."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x469_burstiness_memory,
    )

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    per = defaultdict(list)
    for r in rows:
        per[r["user_id"]].append((r["ts"], r["event_id"]))
    gaps = []
    pairs = []
    for u, ts in per.items():
        ts.sort()
        ug = [
            int(round((ts[i][0] - ts[i - 1][0]).total_seconds() * 1e6))
            for i in range(1, len(ts))
        ]
        gaps += ug
        pairs += list(zip(ug, ug[1:]))
    n = len(gaps)
    mu = sum(gaps) / n
    var = (sum(g * g for g in gaps) - sum(gaps) ** 2 / n) / (n - 1)
    sigma = math.sqrt(var)
    b = (sigma - mu) / (sigma + mu)
    k = len(pairs)
    sx = sum(a for a, _ in pairs)
    sy = sum(c for _, c in pairs)
    sxy = sum(a * c for a, c in pairs)
    sxx = sum(a * a for a, _ in pairs)
    syy = sum(c * c for _, c in pairs)
    mm = (sxy - sx * sy / k) / math.sqrt(
        (sxx - sx * sx / k) * (syy - sy * sy / k)
    )
    r = x469_burstiness_memory(spark, SF).collect()[0]
    assert (r["n_gaps"], r["n_pairs"]) == (n, k)
    assert abs(r["burstiness_b"] - _round_hu(b, 6)) < 1e-9
    assert abs(r["memory_m"] - _round_hu(mm, 6)) < 1e-9
    assert -1.0 < r["burstiness_b"] < 1.0
    assert -1.0 <= r["memory_m"] <= 1.0


def test_duplicate_lag_matches_bruteforce(spark):
    """x470: replay the consecutive-occurrence lags; identities:
    total pairs = (group size - 1) summed over duplicate groups,
    shares sum to 1."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x470_duplicate_lag,
    )

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    groups = defaultdict(list)
    for r in rows:
        fp = " ".join(sorted(set(r["text"].lower().split(" "))))
        groups[fp].append(r["doc_id"])
    lags = []
    expected_pairs = 0
    for ids in groups.values():
        if len(ids) > 1:
            ids.sort()
            expected_pairs += len(ids) - 1
            lags += [b - a for a, b in zip(ids, ids[1:])]

    def bucket(lag):
        return 1 if lag <= 10 else 2 if lag <= 100 else 3 if lag <= 1000 else 4

    from collections import Counter

    cnt = Counter(bucket(lg) for lg in lags)
    got = {r["bucket"]: r for r in x470_duplicate_lag(spark, SF).collect()}
    assert set(got) == set(cnt)
    assert sum(r["n_pairs"] for r in got.values()) == expected_pairs
    share_sum = 0.0
    for bk, n in cnt.items():
        r = got[bk]
        assert r["n_pairs"] == n
        blags = [lg for lg in lags if bucket(lg) == bk]
        assert (r["min_lag"], r["max_lag"]) == (min(blags), max(blags))
        assert abs(r["share"] - _round_hu(n / len(lags), 6)) < 1e-9
        assert abs(
            r["corpus_mean_lag"] - _round_hu(sum(lags) / len(lags), 4)
        ) < 1e-9
        share_sum += r["share"]
    assert abs(share_sum - 1.0) < 1e-4


def test_rich_club_matches_bruteforce(spark):
    """x471: replay phi(k) from Python degrees; invariants: phi in
    [0, 1], club sizes shrink with k."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import x471_rich_club

    rows = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in rows:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    pair_n = defaultdict(int)
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    edges = [p for p, n in pair_n.items() if n >= 2]
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    got = {r["k"]: r for r in x471_rich_club(spark, SF).collect()}
    prev_nodes = None
    for k in (1, 2, 4, 8):
        club = {n for n, d in deg.items() if d > k}
        if len(club) < 2:
            assert k not in got
            continue
        inside = sum(1 for u, v in edges if u in club and v in club)
        phi = 2 * inside / (len(club) * (len(club) - 1))
        r = got[k]
        assert r["club_nodes"] == len(club)
        assert r["club_edges"] == inside
        assert abs(r["rich_club_phi"] - _round_hu(phi, 6)) < 1e-9
        assert 0.0 <= r["rich_club_phi"] <= 1.0
        if prev_nodes is not None:
            assert r["club_nodes"] <= prev_nodes
        prev_nodes = r["club_nodes"]


import math


def _daily_cents(spark):
    """Exact integer-cent daily revenue replayed from raw orders."""
    from collections import defaultdict

    d = defaultdict(int)
    for r in load_table(spark, SF, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect():
        d[r["o_orderdate"].date()] += int(
            math.floor(r["o_totalprice"] * 100.0)
        )
    return dict(d)


def test_truncation_audit_matches_bruteforce(spark):
    """x503: replay token loss per (source, window); invariants: loss
    is monotone non-increasing in window size and 0 beyond max len."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x503_truncation_audit,
    )

    docs = load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect()
    toks = defaultdict(list)
    for r in docs:
        toks[r["source"]].append(len(r["text"].lower().split(" ")))
    rows = x503_truncation_audit(spark, SF).collect()
    assert len(rows) == len(toks) * 5
    by_src = defaultdict(dict)
    for r in rows:
        ts = toks[r["source"]]
        w = r["window_tokens"]
        lost = sum(max(0, t - w) for t in ts)
        assert r["docs"] == len(ts)
        assert r["docs_truncated"] == sum(t > w for t in ts)
        assert r["tokens_total"] == sum(ts)
        assert r["tokens_lost"] == lost
        assert abs(r["loss_frac"] - _round_hu(lost / sum(ts), 6)) < 1e-9
        by_src[r["source"]][w] = r["tokens_lost"]
    for src, m in by_src.items():
        ws = sorted(m)
        assert all(m[a] >= m[b] for a, b in zip(ws, ws[1:]))
        assert m[96] == sum(max(0, t - 96) for t in toks[src])


def _paired_daily_py(spark):
    from collections import defaultdict

    a = defaultdict(int)
    odate = {}
    for r in load_table(spark, SF, "orders").collect():
        day = r["o_orderdate"].date()
        a[day] += int(math.floor(r["o_totalprice"] * 100.0))
        odate[r["o_orderkey"]] = day
    b = defaultdict(int)
    for r in load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    ).collect():
        day = odate[r["l_orderkey"]]
        b[day] += int(
            math.floor(
                r["l_extendedprice"]
                * (1.0 - r["l_discount"])
                * (1.0 + r["l_tax"])
                * 100.0
            )
        )
    return [(a[d], b[d]) for d in sorted(set(a) & set(b))]


def test_bland_altman_matches_bruteforce(spark):
    """x504: replay bias/SD/limits; invariants: limits bracket the
    mean and >=90% of days fall inside 1.96-SD limits isn't assumed
    (frac_within is whatever the data says) but must equal the
    replayed count."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x504_bland_altman,
    )

    p = _paired_daily_py(spark)
    ds = [av - bv for av, bv in p]
    n = len(ds)
    mean_d = sum(ds) / n
    sd = math.sqrt(
        (n * sum(d * d for d in ds) - sum(ds) ** 2) / (n * (n - 1))
    )
    lo, hi = mean_d - 1.96 * sd, mean_d + 1.96 * sd
    n_out = sum(1 for d in ds if d < lo or d > hi)
    r = x504_bland_altman(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["mean_diff"] - _round_hu(mean_d, 4)) < 1e-9
    assert abs(r["sd_diff"] - _round_hu(sd, 4)) < 1e-9
    assert abs(r["loa_lo"] - _round_hu(lo, 4)) < 1e-9
    assert abs(r["loa_hi"] - _round_hu(hi, 4)) < 1e-9
    assert r["n_outside"] == n_out
    assert r["loa_lo"] < r["mean_diff"] < r["loa_hi"]
    assert abs(r["frac_within"] - _round_hu(1.0 - n_out / n, 6)) < 1e-9


def test_deming_matches_bruteforce(spark):
    """x505: replay the closed-form orthogonal slope; invariants:
    Deming slope magnitude >= the OLS slope magnitude (attenuation),
    and the fit line passes through the centroid."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x505_deming_regression,
    )

    p = _paired_daily_py(spark)
    n = len(p)
    sa = sum(a for a, _ in p)
    sb = sum(b for _, b in p)
    sxx = n * sum(a * a for a, _ in p) - sa * sa
    syy = n * sum(b * b for _, b in p) - sb * sb
    sxy = n * sum(a * b for a, b in p) - sa * sb
    slope = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy * sxy)) / (
        2 * sxy
    )
    intercept = sb / n - slope * sa / n
    r = x505_deming_regression(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["slope"] - _round_hu(slope, 6)) < 1e-9
    assert abs(r["intercept"] - _round_hu(intercept, 4)) < 1e-9
    assert abs(r["pearson_r"] - _round_hu(sxy / math.sqrt(sxx * syy), 6)) < 1e-9
    assert abs(slope) >= abs(sxy / sxx) - 1e-12  # attenuation bound


def test_atkinson_matches_bruteforce(spark):
    """x506: replay both indices on the exact quantization grids;
    invariants: 0 <= A_half <= A_1 < 1 (A is increasing in aversion
    epsilon)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x506_atkinson_index,
    )

    spend = defaultdict(int)
    for r in load_table(spark, SF, "orders").collect():
        spend[r["o_custkey"]] += int(math.floor(r["o_totalprice"] * 100.0))
    xs = list(spend.values())
    n, t = len(xs), sum(xs)
    ss = sum(int(math.floor(math.sqrt(x) * 1e6)) for x in xs)
    sl = sum(int(math.floor(math.log(x) * 1e12)) for x in xs)
    a_half = 1.0 - (ss / 1e6) * (ss / 1e6) / (n * t)
    a_1 = 1.0 - n * math.exp(sl / 1e12 / n) / t
    r = x506_atkinson_index(spark, SF).collect()[0]
    assert r["n_customers"] == n
    assert abs(r["atkinson_half"] - _round_hu(a_half, 6)) < 1e-9
    assert abs(r["atkinson_1"] - _round_hu(a_1, 6)) < 1e-9
    assert 0.0 <= r["atkinson_half"] <= r["atkinson_1"] < 1.0


def test_bartlett_matches_bruteforce(spark):
    """x507: replay T with the exact per-group quantization;
    invariant: T >= 0 and df = k-1."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x507_bartlett_test,
    )

    g = defaultdict(list)
    for r in load_table(spark, SF, "events").select(
        "event_type", "value"
    ).collect():
        g[r["event_type"]].append(int(round(r["value"] * 100)))
    k = len(g)
    nn = sum(len(v) for v in g.values())
    ssw = slnv = sinv = 0.0
    for v in g.values():
        n = len(v)
        var = (n * sum(x * x for x in v) - sum(v) ** 2) / (n * (n - 1))
        ssw += _round_hu((n - 1) * var, 4)
        slnv += _round_hu((n - 1) * math.log(var), 10)
        sinv += _round_hu(1.0 / (n - 1), 12)
    nk = nn - k
    t_stat = (nk * math.log(ssw / nk) - slnv) / (
        1.0 + (sinv - 1.0 / nk) / (3.0 * (k - 1))
    )
    r = x507_bartlett_test(spark, SF).collect()[0]
    assert (r["n_groups"], r["n_obs"], r["df"]) == (k, nn, k - 1)
    assert abs(r["bartlett_t"] - _round_hu(t_stat, 4)) < 1e-6
    assert r["bartlett_t"] >= 0.0


def test_icc_oneway_matches_bruteforce(spark):
    """x508: replay MSB/MSW/k0/ICC from week groups; invariants:
    -1/(k0-1) <= ICC <= 1 and F = MSB/MSW > 0."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x508_icc_oneway,
    )

    daily = _daily_cents(spark)
    wk = defaultdict(list)
    import datetime

    for day, y in daily.items():
        monday = day - datetime.timedelta(days=day.weekday())
        wk[monday].append(y)
    nobs = len(daily)
    ng = len(wk)
    s = sum(daily.values())
    syy = sum(y * y for y in daily.values())
    sgq = sum(
        _round_hu(sum(v) * sum(v) / len(v), 6) for v in wk.values()
    )
    sk2 = sum(len(v) ** 2 for v in wk.values())
    msb = (sgq - s * s / nobs) / (ng - 1)
    msw = (syy - sgq) / (nobs - ng)
    k0 = (nobs - sk2 / nobs) / (ng - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    r = x508_icc_oneway(spark, SF).collect()[0]
    assert (r["n_weeks"], r["n_days"]) == (ng, nobs)
    assert abs(r["k0"] - _round_hu(k0, 4)) < 1e-9
    assert abs(r["f_ratio"] - _round_hu(msb / msw, 6)) < 1e-6
    assert abs(r["icc_1_1"] - _round_hu(icc, 6)) < 1e-6
    assert -1.0 / (k0 - 1) - 1e-9 <= r["icc_1_1"] <= 1.0
    assert r["f_ratio"] > 0


def test_rate_ratio_ci_matches_bruteforce(spark):
    """x509: replay Katz CI and the conditional z; invariants: CI
    brackets RR, and z and ln(RR) share a sign."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x509_rate_ratio_ci,
    )

    rows = load_table(spark, SF, "events").select("event_type").collect()
    x1 = sum(r["event_type"] == "purchase" for r in rows)
    x2 = sum(r["event_type"] == "click" for r in rows)
    rr = x1 / x2
    half = 1.959964 * math.sqrt(1.0 / x1 + 1.0 / x2)
    z = (x1 - (x1 + x2) / 2.0) / math.sqrt((x1 + x2) / 4.0)
    r = x509_rate_ratio_ci(spark, SF).collect()[0]
    assert (r["n_purchase"], r["n_click"]) == (x1, x2)
    assert abs(r["rate_ratio"] - _round_hu(rr, 6)) < 1e-9
    assert abs(r["ci_lo"] - _round_hu(math.exp(math.log(rr) - half), 6)) < 1e-9
    assert abs(r["ci_hi"] - _round_hu(math.exp(math.log(rr) + half), 6)) < 1e-9
    assert r["ci_lo"] <= r["rate_ratio"] <= r["ci_hi"]
    assert abs(r["conditional_z"] - _round_hu(z, 4)) < 1e-9
    assert (r["conditional_z"] >= 0) == (rr >= 1.0)


def test_ljung_box_matches_bruteforce(spark):
    """x510: replay calendar-paired ACFs and the cumulative Q;
    invariants: Q is non-decreasing in lag, |acf| <= 1, Box-Pierce
    <= Ljung-Box at every lag (n+2 > n-k)."""
    import datetime

    from poc_parquet_publisher_spark.queries.extensions import (
        x510_ljung_box,
    )

    daily = _daily_cents(spark)
    n = len(daily)
    s = sum(daily.values())
    c = {d: n * y - s for d, y in daily.items()}
    den = sum(v * v for v in c.values())
    rows = x510_ljung_box(spark, SF).orderBy("lag").collect()
    assert [r["lag"] for r in rows] == list(range(1, 8))
    lb = bp = 0.0
    prev_q = -1.0
    for r in rows:
        k = r["lag"]
        pairs = [
            (c[d], c[d + datetime.timedelta(days=k)])
            for d in c
            if d + datetime.timedelta(days=k) in c
        ]
        acf = _round_hu(sum(a * b for a, b in pairs) / den, 10)
        assert r["n_pairs"] == len(pairs)
        assert abs(r["acf"] - _round_hu(acf, 6)) < 1e-9
        assert abs(r["acf"]) <= 1.0
        lb += _round_hu(acf * acf / (n - k), 14)
        bp += _round_hu(acf * acf, 14)
        assert abs(r["ljung_box_q"] - _round_hu(n * (n + 2.0) * lb, 4)) < 1e-6
        assert abs(r["box_pierce_q"] - _round_hu(n * bp, 4)) < 1e-6
        assert r["box_pierce_q"] <= r["ljung_box_q"] + 1e-9
        assert r["ljung_box_q"] >= prev_q
        prev_q = r["ljung_box_q"]


def test_variance_ratio_matches_bruteforce(spark):
    """x511: replay VR(5) and its z; invariant: VR > 0."""
    import datetime

    from poc_parquet_publisher_spark.queries.extensions import (
        x511_variance_ratio,
    )

    daily = _daily_cents(spark)

    def var_of_diffs(k):
        ds = [
            daily[d + datetime.timedelta(days=k)] - daily[d]
            for d in daily
            if d + datetime.timedelta(days=k) in daily
        ]
        m = len(ds)
        return m, (m * sum(d * d for d in ds) - sum(ds) ** 2) / (m * m)

    m1, v1 = var_of_diffs(1)
    mq, vq = var_of_diffs(5)
    vr = vq / (5.0 * v1)
    z = (vr - 1.0) / math.sqrt(2.0 * 9.0 * 4.0 / (15.0 * m1))
    r = x511_variance_ratio(spark, SF).collect()[0]
    assert (r["n_diffs_1"], r["n_diffs_q"]) == (m1, mq)
    assert abs(r["variance_ratio"] - _round_hu(vr, 6)) < 1e-9
    assert abs(r["vr_z"] - _round_hu(z, 4)) < 1e-9
    assert r["variance_ratio"] > 0


def test_hurst_rs_matches_bruteforce(spark):
    """x512: numpy replay of block R/S means and the dyadic-grid
    slope; invariants: every mean R/S >= 1 grows with window size,
    and 0 < H < 1."""
    import numpy as np

    from poc_parquet_publisher_spark.queries.extensions import (
        x512_hurst_rs,
    )

    daily = _daily_cents(spark)
    ys = np.array([daily[d] for d in sorted(daily)], dtype=object)
    n = len(ys)
    means = {}
    for w in (8, 16, 32, 64, 128):
        vals = []
        for b in range(n // w):
            blk = ys[b * w : (b + 1) * w]
            s_blk = sum(blk)
            cvals = [w * int(y) - s_blk for y in blk]
            p = np.cumsum(cvals)
            m2 = sum(v * v for v in cvals)
            if m2 == 0:
                continue
            vals.append(
                _round_hu(
                    float(p.max() - p.min())
                    * math.sqrt(w)
                    / math.sqrt(float(m2)),
                    8,
                )
            )
        means[w] = sum(vals) / len(vals)
    snum = sum(
        (int(round(math.log(w) / math.log(2.0))) - 5)
        * _round_hu(math.log(means[w]), 10)
        for w in means
    )
    hurst = snum / (10.0 * math.log(2.0))
    r = x512_hurst_rs(spark, SF).collect()[0]
    assert r["n_days"] == n
    prev = 0.0
    for w in (8, 16, 32, 64, 128):
        got = r[f"rs_{w}"]
        assert abs(got - _round_hu(means[w], 6)) < 1e-6
        assert got >= prev  # mean R/S grows with window
        prev = got
    assert abs(r["hurst"] - _round_hu(hurst, 4)) < 1e-6
    assert 0.0 < r["hurst"] < 1.0


def test_concordance_panel_matches_bruteforce(spark):
    """x513: replay C/D/tie counts from the contingency table;
    invariants: gamma >= |somers| >= tau_b ordering (tie mass only
    shrinks denominators), all in [-1, 1], and tau_b^2 =
    D_yx * D_xy (the classic identity)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x513_concordance_panel,
    )

    cells = defaultdict(int)
    for r in load_table(spark, SF, "lineitem").select(
        "l_discount", "l_quantity"
    ).collect():
        cells[(int(round(r["l_discount"] * 100)),
               int(round(r["l_quantity"])))] += 1
    items = list(cells.items())
    conc = disc = 0
    for (i1, j1), c1 in items:
        for (i2, j2), c2 in items:
            if i2 > i1 and j2 > j1:
                conc += c1 * c2
            elif i2 > i1 and j2 < j1:
                disc += c1 * c2
    n = sum(cells.values())
    xm = defaultdict(int)
    ym = defaultdict(int)
    for (i, j), c in cells.items():
        xm[i] += c
        ym[j] += c
    tx2 = sum(s * (s - 1) for s in xm.values())
    ty2 = sum(s * (s - 1) for s in ym.values())
    px = (n * (n - 1) - tx2) / 2.0
    py = (n * (n - 1) - ty2) / 2.0
    r = x513_concordance_panel(spark, SF).collect()[0]
    assert r["n_rows"] == n
    assert int(r["concordant"]) == conc
    assert int(r["discordant"]) == disc
    sm = conc - disc
    assert abs(r["gamma"] - _round_hu(sm / (conc + disc), 6)) < 1e-9
    assert abs(r["somers_d_yx"] - _round_hu(sm / px, 6)) < 1e-9
    assert abs(r["somers_d_xy"] - _round_hu(sm / py, 6)) < 1e-9
    assert abs(r["tau_b"] - _round_hu(sm / math.sqrt(px * py), 6)) < 1e-9
    assert abs(r["gamma"]) >= abs(r["somers_d_yx"]) - 1e-9
    assert abs(r["somers_d_yx"]) * abs(r["somers_d_xy"]) == pytest.approx(
        r["tau_b"] ** 2, abs=1e-6
    )
    for k in ("gamma", "somers_d_yx", "somers_d_xy", "tau_b"):
        assert -1.0 <= r[k] <= 1.0


def test_bowker_symmetry_matches_bruteforce(spark):
    """x514: replay the pairwise symmetry chi2 from the confusion
    table; invariants: chi2 >= 0, df >= asymmetric_pairs."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops import text
    from poc_parquet_publisher_spark.queries.extensions import (
        x514_bowker_symmetry,
    )

    docs = load_table(spark, SF, "documents")
    pred = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", text.lang_pred_column("text").alias("p")
        ).collect()
    }
    conf = defaultdict(int)
    for r in docs.select("doc_id", "lang").collect():
        conf[(r["lang"], pred[r["doc_id"]])] += 1
    langs = sorted({i for i, _ in conf} | {j for _, j in conf})
    chi2 = 0.0
    df = asym = 0
    for ii, i in enumerate(langs):
        for j in langs[ii + 1:]:
            m = conf.get((i, j), 0) + conf.get((j, i), 0)
            d = conf.get((i, j), 0) - conf.get((j, i), 0)
            if m > 0:
                df += 1
                chi2 += _round_hu(d * d / m, 10)
                asym += d != 0
    r = x514_bowker_symmetry(spark, SF).collect()[0]
    assert r["df"] == df
    assert abs(r["bowker_chi2"] - _round_hu(chi2, 4)) < 1e-6
    assert r["asymmetric_pairs"] == asym
    assert r["bowker_chi2"] >= 0.0
    assert r["df"] >= r["asymmetric_pairs"]


def test_breslow_day_matches_bruteforce(spark):
    """x515: replay MH OR, the per-stratum quadratic expected cells
    and the chi2; invariants: chi2 >= 0, each expected cell inside
    its margin box, and expected cells reproduce the MH OR."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x515_breslow_day,
    )

    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF, "customer").collect()
    }
    okey = {
        r["o_orderkey"]: cust[r["o_custkey"]]
        for r in load_table(spark, SF, "orders").collect()
    }
    tab = defaultdict(lambda: [0, 0, 0, 0])  # a, b, c, d
    for r in load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_discount", "l_returnflag"
    ).collect():
        seg = okey[r["l_orderkey"]]
        ex = r["l_discount"] >= 0.06
        rt = r["l_returnflag"] == "R"
        tab[seg][0 if (ex and rt) else 1 if ex else 2 if rt else 3] += 1
    rsum = ssum = 0.0
    for a, b, c, d in tab.values():
        n = a + b + c + d
        rsum += _round_hu(a * d / n, 10)
        ssum += _round_hu(b * c / n, 10)
    psi = _round_hu(rsum / ssum, 10)
    chi2 = 0.0
    for a, b, c, d in tab.values():
        n, r1, c1 = float(a + b + c + d), float(a + b), float(a + c)
        bq = (n - r1 - c1) + psi * (r1 + c1)
        disc = math.sqrt(bq * bq + 4.0 * (1.0 - psi) * psi * r1 * c1)
        rp = (-bq + disc) / (2.0 * (1.0 - psi))
        rm = (-bq - disc) / (2.0 * (1.0 - psi))
        ae = rp if max(0.0, r1 + c1 - n) < rp < min(r1, c1) else rm
        assert max(0.0, r1 + c1 - n) < ae < min(r1, c1)
        # the expected table reproduces psi
        got_or = (ae * (n - r1 - c1 + ae)) / ((r1 - ae) * (c1 - ae))
        assert got_or == pytest.approx(psi, rel=1e-9)
        vinv = (
            1.0 / ae
            + 1.0 / (r1 - ae)
            + 1.0 / (c1 - ae)
            + 1.0 / (n - r1 - c1 + ae)
        )
        chi2 += _round_hu((a - ae) ** 2 * vinv, 8)
    r = x515_breslow_day(spark, SF).collect()[0]
    assert r["n_strata"] == len(tab)
    assert r["df"] == len(tab) - 1
    assert abs(r["or_mh"] - _round_hu(psi, 6)) < 1e-9
    assert abs(r["breslow_day_chi2"] - _round_hu(chi2, 4)) < 1e-6
    assert r["breslow_day_chi2"] >= 0.0


def test_fisher_exact_matches_bruteforce(spark):
    """x516: replay the quantized hypergeometric tail AND check the
    unquantized exact p (math.comb) agrees to ~1e-9 -- the
    quantization grid must not move the decision; invariants: 0 <
    mid_p < p_two <= 1."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x516_fisher_exact,
    )

    purch = defaultdict(int)
    users = set()
    for rr in load_table(spark, SF, "events").select(
        "user_id", "event_type"
    ).collect():
        users.add(rr["user_id"])
        if rr["event_type"] == "purchase":
            purch[rr["user_id"]] += 1
    n1 = sum(1 for u in users if u % 2 == 0)
    n2 = len(users) - n1
    conv = {u for u in users if purch[u] >= 14}
    c1 = len(conv)
    aobs = sum(1 for u in conv if u % 2 == 0)
    alo, ahi = max(0, c1 - n2), min(c1, n1)
    # quantized replay (the committed statistic)
    steps = {}
    for a in range(alo, ahi):
        steps[a] = int(
            math.floor(
                (
                    math.log(n1 - a)
                    + math.log(c1 - a)
                    - math.log(a + 1)
                    - math.log(n2 - c1 + a + 1)
                )
                * 1e12
            )
        )
    ls = {alo: 0}
    for a in range(alo + 1, ahi + 1):
        ls[a] = ls[a - 1] + steps[a - 1]
    mx = max(ls.values())
    ev = {
        a: int(math.floor(math.exp((l - mx) / 1e12) * 1e15))
        for a, l in ls.items()
    }
    zz = sum(ev.values())
    eobs = ev[aobs]
    psum = sum(v for v in ev.values() if v <= eobs)
    r = x516_fisher_exact(spark, SF).collect()[0]
    assert (r["n_arm_a"], r["n_arm_b"], r["n_success"], r["a_obs"]) == (
        n1, n2, c1, aobs,
    )
    assert abs(r["p_two_sided"] - _round_hu(psum / zz, 8)) < 1e-9
    assert abs(r["mid_p"] - _round_hu((psum - eobs / 2.0) / zz, 8)) < 1e-9
    # unquantized exact hypergeometric must agree closely
    tot = math.comb(n1 + n2, c1)
    pmf = {
        a: math.comb(n1, a) * math.comb(n2, c1 - a) / tot
        for a in range(alo, ahi + 1)
    }
    p_exact = sum(v for a, v in pmf.items() if v <= pmf[aobs] * (1 + 1e-9))
    assert r["p_two_sided"] == pytest.approx(p_exact, abs=1e-6)
    assert 0.0 < r["mid_p"] < r["p_two_sided"] <= 1.0


def test_weibull_fit_matches_bruteforce(spark):
    """x517: replay the median-rank regression on latency cells;
    invariants: shape > 0, scale > 0, and the fitted line's r^2
    on the plotting points is decent (> 0.8 -- the fixture is
    near-exponential so the fit should be tight)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x517_weibull_fit,
    )

    first_ts = {}
    first_p = {}
    for rr in load_table(spark, SF, "events").select(
        "user_id", "ts", "event_type"
    ).collect():
        u = rr["user_id"]
        if u not in first_ts or rr["ts"] < first_ts[u]:
            first_ts[u] = rr["ts"]
        if rr["event_type"] == "purchase" and (
            u not in first_p or rr["ts"] < first_p[u]
        ):
            first_p[u] = rr["ts"]
    cells = defaultdict(int)
    for u, tp in first_p.items():
        h = int((tp - first_ts[u]).total_seconds() * 1e6) // 3_600_000_000
        if h >= 1:
            cells[h] += 1
    n = sum(cells.values())
    pts = []
    cumb = 0
    for h in sorted(cells):
        c = cells[h]
        fpos = (cumb + (c + 1) / 2.0 - 0.3) / (n + 0.4)
        pts.append(
            (
                _round_hu(math.log(h), 10),
                _round_hu(math.log(-math.log(1.0 - fpos)), 10),
            )
        )
        cumb += c
    m = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    shape = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    scale = math.exp(-(sy / m - shape * sx / m) / shape)
    r = x517_weibull_fit(spark, SF).collect()[0]
    assert (r["n_distinct_latencies"], r["n_users"]) == (m, n)
    assert abs(r["weibull_shape"] - _round_hu(shape, 6)) < 1e-6
    assert abs(r["weibull_scale_hours"] - _round_hu(scale, 4)) < 1e-3
    assert r["weibull_shape"] > 0 and r["weibull_scale_hours"] > 0
    syy = sum(y * y for _, y in pts)
    r2 = (m * sxy - sx * sy) ** 2 / ((m * sxx - sx * sx) * (m * syy - sy * sy))
    assert r2 > 0.8


def test_logrank_matches_bruteforce(spark):
    """x518: replay O-E/V over distinct death times; invariants:
    chi2 >= 0 and sum of expected equals... well, E_a + E_b = d_t
    per time, so total expected across groups = total deaths."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x518_logrank_test,
    )

    evs = load_table(spark, SF, "events").select(
        "user_id", "ts"
    ).collect()
    lo, hi = {}, {}
    for rr in evs:
        u = rr["user_id"]
        if u not in lo or rr["ts"] < lo[u]:
            lo[u] = rr["ts"]
        if u not in hi or rr["ts"] > hi[u]:
            hi[u] = rr["ts"]
    mx = max(hi.values())
    users = []
    for u in lo:
        lt = int((hi[u] - lo[u]).total_seconds() * 1e6) // 3_600_000_000
        obs = 1 if (mx - hi[u]).total_seconds() * 1e6 > 86_400_000_000 else 0
        users.append((u % 2, lt, obs))
    deaths = defaultdict(lambda: [0, 0])
    for g, lt, obs in users:
        if obs:
            deaths[lt][0] += g == 0
            deaths[lt][1] += 1
    o1 = e1 = v = 0.0
    nt_ = 0
    for t in sorted(deaths):
        d1, dt = deaths[t]
        n1 = sum(1 for g, lt, _ in users if g == 0 and lt >= t)
        nt = sum(1 for _, lt, _ in users if lt >= t)
        o1 += d1
        e1 += _round_hu(dt * n1 / nt, 10)
        if nt > 1:
            v += _round_hu(
                dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1), 10
            )
        nt_ += 1
    r = x518_logrank_test(spark, SF).collect()[0]
    assert r["n_times"] == nt_
    assert r["observed_a"] == int(o1)
    assert abs(r["expected_a"] - _round_hu(e1, 4)) < 1e-6
    assert abs(r["logrank_chi2"] - _round_hu((o1 - e1) ** 2 / v, 4)) < 1e-4
    assert r["logrank_chi2"] >= 0


def test_chow_matches_bruteforce(spark):
    """x519: replay segment SSRs; invariants: F >= 0 (pooled SSR
    >= sum of segment SSRs -- adding a break never hurts fit)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x519_chow_test,
    )

    daily = _daily_cents(spark)
    d0 = min(daily)
    import datetime

    cut = datetime.date(1999, 1, 1)

    def ssr_slope(pts):
        n = len(pts)
        st = sum(t for t, _ in pts)
        sy = sum(y for _, y in pts)
        stt = sum(t * t for t, _ in pts)
        sty = sum(t * y for t, y in pts)
        syy = sum(y * y for _, y in pts)
        sxy = sty - st * sy / n
        sxx = stt - st * st / n
        return (syy - sy * sy / n) - sxy * sxy / sxx, sxy / sxx

    pts = [((d - d0).days, y) for d, y in daily.items()]
    pre = [(t, y) for (t, y), d in zip(pts, daily) if d < cut]
    post = [(t, y) for (t, y), d in zip(pts, daily) if d >= cut]
    rp, _sp = ssr_slope(pts)
    r1, s1 = ssr_slope(pre)
    r2, s2 = ssr_slope(post)
    n = len(pts)
    f = ((rp - r1 - r2) / 2.0) / ((r1 + r2) / (n - 4.0))
    r = x519_chow_test(spark, SF).collect()[0]
    assert (r["n_days"], r["n_pre"], r["df2"]) == (n, len(pre), n - 4)
    assert abs(r["slope_pre"] - _round_hu(s1, 6)) < 1e-6
    assert abs(r["slope_post"] - _round_hu(s2, 6)) < 1e-6
    assert abs(r["chow_f"] - _round_hu(f, 4)) < 1e-3
    assert r["chow_f"] >= 0


def test_sign_test_matches_bruteforce(spark):
    """x520: exact binomial cross-check with math.comb; invariants:
    p in (0, 1], and p == 1 would require a perfectly balanced
    split."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x520_sign_test,
    )

    p = _paired_daily_py(spark)
    npos = sum(1 for a, b in p if a > b)
    nneg = sum(1 for a, b in p if a < b)
    m = npos + nneg
    tot = 2 ** m
    pmf_scaled = [math.comb(m, k) for k in range(m + 1)]  # x 2^m
    pobs = pmf_scaled[npos]
    p_exact = sum(v for v in pmf_scaled if v <= pobs) / tot
    r = x520_sign_test(spark, SF).collect()[0]
    assert (r["n_a_above"], r["n_b_above"], r["n_informative"]) == (
        npos, nneg, m,
    )
    assert r["p_two_sided"] == pytest.approx(p_exact, abs=1e-6)
    # p saturates to exactly 0 below the 1e-15 weight grid (stated in
    # the doc); the z column carries the magnitude past the grid
    assert 0.0 <= r["p_two_sided"] <= 1.0
    z = (npos - m / 2.0) / math.sqrt(m / 4.0)
    assert abs(r["sign_z"] - _round_hu(z, 4)) < 1e-9
    if p_exact < 1e-10:
        assert abs(r["sign_z"]) > 6.0  # grid saturation only when extreme


def test_wilcoxon_signed_rank_matches_bruteforce(spark):
    """x521: replay doubled midranks, tie correction and z;
    invariant: W2 between 0 and n(n+1)."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x521_wilcoxon_signed_rank,
    )

    p = _paired_daily_py(spark)
    ds = [a - b for a, b in p if a != b]
    ads = sorted(abs(d) for d in ds)
    n = len(ds)
    # doubled midrank of each distinct |d|
    cnt = Counter(ads)
    dr = {}
    seen = 0
    for v in sorted(cnt):
        c = cnt[v]
        dr[v] = 2 * (seen + 1) + c - 1
        seen += c
    w2 = sum(dr[abs(d)] for d in ds if d > 0)
    t3 = sum(c ** 3 - c for c in cnt.values())
    var4 = 4.0 * (n * (n + 1) * (2 * n + 1) / 24.0 - t3 / 48.0)
    z = (w2 - n * (n + 1) / 2.0) / math.sqrt(var4)
    r = x521_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert r["n_informative"] == n
    assert r["w_plus_doubled"] == w2
    assert abs(r["wilcoxon_z"] - _round_hu(z, 4)) < 1e-9
    assert 0 <= w2 <= n * (n + 1)


def test_rerandomization_matches_bruteforce(spark):
    """x522: replay the 32 md5 pseudo-assignments; invariants:
    p in [1/33, 1], and the add-one rule is respected."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x522_rerandomization_test,
    )

    agg = defaultdict(lambda: [0, 0])
    for rr in load_table(spark, SF, "events").select(
        "user_id", "value"
    ).collect():
        a = agg[rr["user_id"]]
        a[0] += int(round(rr["value"] * 100))
        a[1] += 1

    def qdiff(assign):
        s1 = c1 = s0 = c0 = 0
        for u, (s, c) in agg.items():
            if assign(u):
                s1 += s
                c1 += c
            else:
                s0 += s
                c0 += c
        return int(math.floor((s1 / c1 - s0 / c0) * 1e8))

    qobs = qdiff(lambda u: u % 2 == 1)
    n_ext = 0
    for rep in range(1, 33):
        def assign(u, rep=rep):
            h = hashlib.md5(f"{u}:perm:{rep}".encode()).hexdigest()
            return h[:4] < "8000"
        n_ext += abs(qdiff(assign)) >= abs(qobs)
    r = x522_rerandomization_test(spark, SF).collect()[0]
    assert r["n_users"] == len(agg)
    assert abs(r["observed_diff"] - _round_hu(qobs / 1e8, 6)) < 1e-9
    assert r["n_as_extreme"] == n_ext
    assert abs(r["p_value"] - _round_hu((1 + n_ext) / 33.0, 6)) < 1e-9
    assert 1 / 33.0 - 1e-9 <= r["p_value"] <= 1.0


def test_waterfill_matches_bruteforce(spark):
    """x523: replay the sorted-prefix water level; invariants: total
    allocation within m tokens of the budget, unsaturated sources
    all get exactly the water level, saturated sources keep their
    full supply and sit at or below the level."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x523_waterfill_budget,
    )

    sup = defaultdict(int)
    for rr in load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect():
        sup[rr["source"]] += len(rr["text"].lower().split(" "))
    m = len(sup)
    budget = sum(sup.values()) // 2
    order = sorted(sup.items(), key=lambda kv: (kv[1], kv[0]))
    pj = 0
    jstar, psat = 0, 0
    run = 0
    for j, (_src, s) in enumerate(order, start=1):
        if run + s * (m - j + 1) <= budget:
            jstar, psat = j, run + s
        run += s
    lam = (budget - psat) // (m - jstar) if jstar < m else 0
    rows = {r["source"]: r for r in x523_waterfill_budget(spark, SF).collect()}
    assert len(rows) == m
    total = 0
    for j, (src, s) in enumerate(order, start=1):
        r = rows[src]
        assert r["supply_tokens"] == s
        assert r["water_level"] == lam
        if j <= jstar:
            assert r["saturated"] == 1 and r["allocation_tokens"] == s
            assert s <= lam or jstar == m
        else:
            assert r["saturated"] == 0 and r["allocation_tokens"] == lam
        total += r["allocation_tokens"]
    assert budget - m <= total <= budget


def test_theils_u_matches_bruteforce(spark):
    """x524: replay the three entropies on the quantized-ln grid;
    invariants: 0 <= U <= 1 in every direction, U_sym between the
    two conditionals (harmonic-mean-like), H_joint <= H_s + H_l."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x524_theils_u,
    )

    rows = load_table(spark, SF, "documents").select(
        "source", "lang"
    ).collect()
    n = len(rows)

    def ent(counter):
        sc = sum(
            c * int(math.floor(math.log(c) * 1e12))
            for c in counter.values()
        )
        return math.log(n) - sc / (n * 1e12)

    hs = ent(Counter(r["source"] for r in rows))
    hl = ent(Counter(r["lang"] for r in rows))
    hj = ent(Counter((r["source"], r["lang"]) for r in rows))
    mi = hs + hl - hj
    r = x524_theils_u(spark, SF).collect()[0]
    assert r["n_docs"] == n
    assert abs(r["h_source"] - _round_hu(hs, 6)) < 1e-9
    assert abs(r["h_lang"] - _round_hu(hl, 6)) < 1e-9
    assert abs(r["h_joint"] - _round_hu(hj, 6)) < 1e-9
    assert abs(r["u_lang_given_source"] - _round_hu(mi / hl, 6)) < 1e-9
    assert abs(r["u_source_given_lang"] - _round_hu(mi / hs, 6)) < 1e-9
    assert abs(r["u_symmetric"] - _round_hu(2 * mi / (hs + hl), 6)) < 1e-9
    for k in ("u_lang_given_source", "u_source_given_lang", "u_symmetric"):
        assert -1e-9 <= r[k] <= 1.0
    assert hj <= hs + hl + 1e-12
    lo = min(r["u_lang_given_source"], r["u_source_given_lang"])
    hi2 = max(r["u_lang_given_source"], r["u_source_given_lang"])
    assert lo - 1e-6 <= r["u_symmetric"] <= hi2 + 1e-6


def test_mood_median_matches_bruteforce(spark):
    """x525: replay the lower median, cells and chi2; invariants:
    chi2 >= 0, cells sum to n."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x525_mood_median_test,
    )

    toks = []
    by_src = defaultdict(list)
    for rr in load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect():
        t = len(rr["text"].lower().split(" "))
        toks.append(t)
        by_src[rr["source"]].append(t)
    toks.sort()
    n = len(toks)
    med = toks[(n + 1) // 2 - 1]
    ta = sum(1 for t in toks if t > med)
    tn = n - ta
    chi2 = 0.0
    for vs in by_src.values():
        a = sum(1 for t in vs if t > med)
        na = len(vs) - a
        ri = len(vs)
        ea, en = ri * ta / n, ri * tn / n
        chi2 += _round_hu((a - ea) ** 2 / ea + (na - en) ** 2 / en, 8)
    r = x525_mood_median_test(spark, SF).collect()[0]
    assert r["n_groups"] == len(by_src)
    assert r["grand_median"] == med
    assert abs(r["mood_chi2"] - _round_hu(chi2, 4)) < 1e-6
    assert r["df"] == len(by_src) - 1
    assert r["mood_chi2"] >= 0


def test_lsh_params_schedule_properties():
    """lsh_params_for: the w ~ log2(n) schedule keeps the band recall
    guarantee at every scale and shrinks expected random-candidate
    rate as n grows (the n^(1+rho) law's mechanism)."""
    from poc_parquet_publisher_spark.ops.similarity import lsh_params_for

    prev_w = 0
    for n in (200, 2_000, 20_000, 200_000, 2_000_000):
        for thr in (0.4, 0.9):
            n_planes, n_bands = lsh_params_for(n, thr, target_recall=0.9)
            w = n_planes // n_bands
            p1 = 1.0 - math.acos(thr) / math.pi
            recall = 1.0 - (1.0 - p1 ** w) ** n_bands
            assert recall >= 0.9 - 1e-12, (n, thr, recall)
        # band width grows with n (monotone schedule)
        w04 = lsh_params_for(n, 0.4)[0] // lsh_params_for(n, 0.4)[1]
        assert w04 >= prev_w
        prev_w = w04
    # fixture scale stays at the small parameters the gates measure
    n_planes, n_bands = lsh_params_for(200, 0.4)
    assert n_planes // n_bands == 2
    # tight thresholds need far fewer bands per unit of band width
    p_loose = lsh_params_for(1_000_000, 0.4)
    p_tight = lsh_params_for(1_000_000, 0.9)
    assert p_tight[1] < p_loose[1]
    # expected random-pair candidate RATE nb/2^w falls as n grows
    def rate(n, thr):
        np_, nb = lsh_params_for(n, thr)
        return nb / 2.0 ** (np_ // nb)
    assert rate(2_000_000, 0.9) < rate(20_000, 0.9) < rate(200, 0.9)


def test_ansari_bradley_matches_bruteforce(spark):
    """x526: replay doubled AB scores and the EXACT permutation
    moments from the realized score multiset; invariants: scores
    symmetric (sum = known closed form), |z| finite."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x526_ansari_bradley,
    )

    import datetime

    daily = _daily_cents(spark)
    cut = datetime.date(1999, 1, 1)
    vals = sorted((y, d) for d, y in daily.items())
    ys = sorted(daily.values())
    n = len(ys)
    # doubled midrank per value
    from collections import Counter

    cnt = Counter(ys)
    dr = {}
    seen = 0
    for v in sorted(cnt):
        c = cnt[v]
        dr[v] = 2 * (seen + 1) + c - 1
        seen += c
    s2 = {v: min(r, 2 * (n + 1) - r) for v, r in dr.items()}
    t2 = sum(s2[y] for d, y in daily.items() if d >= cut)
    m1 = sum(1 for d in daily if d >= cut)
    sa = sum(s2[y] for y in daily.values())
    saa = sum(s2[y] ** 2 for y in daily.values())
    var = (
        m1 * (n - m1) / (n - 1.0) * (n * saa - sa * sa) / (n * n)
    )
    z = (t2 - m1 * sa / n) / math.sqrt(var)
    r = x526_ansari_bradley(spark, SF).collect()[0]
    assert (r["n_post"], r["n_pre"]) == (m1, n - m1)
    assert r["ab_t_doubled"] == t2
    assert abs(r["ansari_z"] - _round_hu(z, 4)) < 1e-9
    assert abs(r["ansari_z"]) < 50


def test_median_ci_matches_bruteforce(spark):
    """x527: cross-check the order-statistic rank against the exact
    math.comb binomial CDF; invariants: ci_lo <= median <= ci_hi,
    coverage >= 0.95."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x527_median_ci,
    )

    ys = sorted(_daily_cents(spark).values())
    n = len(ys)
    # exact binomial CDF via comb (scaled by 2^n)
    tot = 2 ** n
    cum = 0
    l = 1
    tail = 0
    pmf = 0
    for k in range(n + 1):
        pmf = math.comb(n, k)
        if (cum + pmf) / tot <= 0.025:
            cum += pmf
            l = k + 2  # largest k with CDF(k) <= a/2 -> rank k+1... see below
        else:
            break
    # recompute directly: l = 1 + max{k : CDF(k) <= 0.025}
    cdf = 0
    lk = 0
    for k in range(n + 1):
        cdf += math.comb(n, k)
        if cdf / tot <= 0.025:
            lk = k + 1
    l = lk + 1 if lk else 1
    r = x527_median_ci(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["median_cents"] == ys[(n + 1) // 2 - 1]
    # the quantized CDF may differ from exact by <= 1 rank at the
    # boundary; accept either and verify coverage from the EXACT cdf
    assert abs(r["lower_rank"] - l) <= 1
    lr = r["lower_rank"]
    assert r["ci_lo"] == ys[lr - 1]
    assert r["ci_hi"] == ys[n - lr]
    assert r["ci_lo"] <= r["median_cents"] <= r["ci_hi"]
    exact_tail = sum(math.comb(n, k) for k in range(lr)) / tot
    assert 1.0 - 2.0 * exact_tail >= 0.9499
    assert r["actual_coverage"] >= 0.9499


def test_cusum_squares_matches_bruteforce(spark):
    """x528: replay the max-|D| scan; invariants: stat in [0, 1),
    break day is an actual day, D at the endpoints ~ 0."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x528_cusum_squares,
    )

    daily = _daily_cents(spark)
    days = sorted(daily)
    n = len(days)
    s2 = sum(daily[d] ** 2 for d in days)
    best = (-1, None)
    cum = 0
    for t, d in enumerate(days, start=1):
        cum += daily[d] ** 2
        num = abs(n * cum - t * s2)
        if num > best[0]:
            best = (num, d)
    stat = best[0] / (n * s2)
    r = x528_cusum_squares(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["break_day"] == best[1]
    assert abs(r["cusum_sq_stat"] - _round_hu(stat, 6)) < 1e-9
    assert abs(
        r["normalized_stat"] - _round_hu(stat * math.sqrt(n / 2.0), 4)
    ) < 1e-3
    assert 0.0 <= r["cusum_sq_stat"] < 1.0


def test_breusch_pagan_matches_bruteforce(spark):
    """x529: replay the two-stage regression on the dollar grid;
    invariants: LM >= 0 and LM <= n."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x529_breusch_pagan,
    )

    daily = _daily_cents(spark)
    d0 = min(daily)
    pts = [((d - d0).days, daily[d] // 100) for d in sorted(daily)]
    n = len(pts)
    st = sum(t for t, _ in pts)
    sy = sum(y for _, y in pts)
    stt = sum(t * t for t, _ in pts)
    sty = sum(t * y for t, y in pts)
    b = _round_hu((n * sty - st * sy) / (n * stt - st * st), 10)
    a = _round_hu(sy / n - (n * sty - st * sy) / (n * stt - st * st)
                  * st / n, 10)
    qs = [(t, int(math.floor((y - a - b * t) ** 2))) for t, y in pts]
    sq = sum(q for _, q in qs)
    stq = sum(t * q for t, q in qs)
    sqq = sum(q * q for _, q in qs)
    num = n * stq - st * sq
    lm = n * num * num / ((n * stt - st * st) * (n * sqq - sq * sq))
    r = x529_breusch_pagan(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["trend_slope"] - _round_hu(b, 6)) < 1e-9
    assert abs(r["breusch_pagan_lm"] - _round_hu(lm, 4)) < 1e-4
    assert 0.0 <= r["breusch_pagan_lm"] <= n
    assert r["df"] == 1


def test_periodogram_matches_bruteforce(spark):
    """x530: replay the quantized projections; invariants: shares
    sum to ~1, all shares >= 0."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x530_periodogram_scan,
    )

    daily = _daily_cents(spark)
    d0 = min(daily)
    n = len(daily)
    s = sum(daily.values())
    powers = {}
    for p in range(2, 15):
        cc = ss = 0
        for d, y in daily.items():
            t = (d - d0).days
            arg = 6.283185307179586 * (t % p) / p
            cv = n * y - s
            cc += cv * int(math.floor(math.cos(arg) * 1e10))
            ss += cv * int(math.floor(math.sin(arg) * 1e10))
        powers[p] = float(cc) * cc + float(ss) * ss
    tot = sum(_round_hu(v / 1e40, 8) for v in powers.values())
    rows = x530_periodogram_scan(spark, SF).collect()
    assert [r["period_days"] for r in rows] == list(range(2, 15))
    for r in rows:
        exp = _round_hu(_round_hu(powers[r["period_days"]] / 1e40, 8)
                        / tot, 6)
        assert abs(r["power_share"] - exp) < 1e-9
        assert r["power_share"] >= 0.0
    assert abs(sum(r["power_share"] for r in rows) - 1.0) < 1e-4


def test_neyman_allocation_matches_bruteforce(spark):
    """x531: replay weights and Hamilton rounding; invariants:
    allocations sum to exactly 1000, every source with docs gets
    base >= 0, higher N*sigma never gets fewer docs."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x531_neyman_allocation,
    )

    toks = defaultdict(list)
    for rr in load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect():
        toks[rr["source"]].append(len(rr["text"].lower().split(" ")))
    w = {}
    for src, vs in toks.items():
        nh = len(vs)
        var = (nh * sum(v * v for v in vs) - sum(vs) ** 2) / (
            nh * (nh - 1.0)
        )
        w[src] = int(round(nh * math.sqrt(var) * 1e6))
    tw = sum(w.values())
    base = {s: 1000 * v // tw for s, v in w.items()}
    rem = {s: 1000 * v % tw for s, v in w.items()}
    k = 1000 - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    alloc = dict(base)
    for s in order[:k]:
        alloc[s] += 1
    rows = {r["source"]: r for r in
            x531_neyman_allocation(spark, SF).collect()}
    assert set(rows) == set(toks)
    total = 0
    pairs = []
    for src, r in rows.items():
        assert r["n_docs"] == len(toks[src])
        assert r["eval_allocation"] == alloc[src]
        total += r["eval_allocation"]
        pairs.append((w[src], r["eval_allocation"]))
    assert total == 1000
    pairs.sort()
    for (w1, a1), (w2, a2) in zip(pairs, pairs[1:]):
        if w2 > w1:
            assert a2 >= a1 - 1  # Hamilton can flip by at most 1


def test_listagg_topk_matches_bruteforce(spark):
    """x532: replay the top-5 CSV per priority; invariants: each CSV
    has exactly n_top comma-separated DISTINCT keys in price-desc
    order."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x532_listagg_topk,
    )

    rows = load_table(spark, SF, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_p = defaultdict(list)
    for r in rows:
        by_p[r["o_orderpriority"]].append(
            (-r["o_totalprice"], r["o_orderkey"])
        )
    got = {r["priority"]: r for r in x532_listagg_topk(spark, SF).collect()}
    assert set(got) == set(by_p)
    for p, lst in by_p.items():
        lst.sort()
        top = [str(k) for _, k in lst[:5]]
        assert got[p]["n_top"] == len(top)
        assert got[p]["top_keys_csv"] == ",".join(top)
        assert len(set(top)) == len(top)


def test_chunk_boundary_loss_matches_bruteforce(spark):
    """x533: replay the severed-bigram identity per (source, chunk);
    invariants: loss strictly decreases in chunk size, and the
    closed form equals an explicit position simulation."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x533_chunk_boundary_loss,
    )

    toks = defaultdict(list)
    for rr in load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect():
        toks[rr["source"]].append(len(rr["text"].lower().split(" ")))
    rows = x533_chunk_boundary_loss(spark, SF).collect()
    assert len(rows) == len(toks) * 3
    for r in rows:
        c = r["chunk_tokens"]
        ns = toks[r["source"]]
        broken = sum((n - 1) // c for n in ns)
        # explicit simulation: bigram (i, i+1) severed iff i % c == 0
        sim = sum(
            sum(1 for i in range(1, n) if i % c == 0) for n in ns
        )
        assert broken == sim
        assert r["broken_bigrams"] == broken
        assert r["total_bigrams"] == sum(n - 1 for n in ns)
        assert abs(
            r["loss_frac"] - _round_hu(broken / sum(n - 1 for n in ns), 6)
        ) < 1e-9
    by_src = defaultdict(dict)
    for r in rows:
        by_src[r["source"]][r["chunk_tokens"]] = r["broken_bigrams"]
    for m in by_src.values():
        assert m[16] >= m[32] >= m[64]


def test_positional_density_matches_bruteforce(spark):
    """x534: replay quartile densities; invariants: densities in
    [0, 1], lead_bias = q1 - q4 exactly."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops.text import LANG_STOPWORDS
    from poc_parquet_publisher_spark.queries.extensions import (
        x534_positional_density,
    )

    stops = set(LANG_STOPWORDS["en"])
    cells = defaultdict(lambda: [0, 0, 0, 0])  # (content, total) packed
    tot = defaultdict(lambda: [0, 0, 0, 0])
    for rr in load_table(spark, SF, "documents").select(
        "source", "text"
    ).collect():
        ws = rr["text"].lower().split(" ")
        n = len(ws)
        if n < 4:
            continue
        for i, w in enumerate(ws):
            q = min(3, 4 * i // n)
            tot[rr["source"]][q] += 1
            cells[rr["source"]][q] += w not in stops
    rows = {r["source"]: r for r in
            x534_positional_density(spark, SF).collect()}
    assert set(rows) == set(tot)
    for src, r in rows.items():
        q1 = cells[src][0] / tot[src][0]
        q4 = cells[src][3] / tot[src][3]
        assert abs(r["q1_density"] - _round_hu(q1, 6)) < 1e-9
        assert abs(r["q4_density"] - _round_hu(q4, 6)) < 1e-9
        assert abs(r["lead_bias"] - _round_hu(q1 - q4, 6)) < 1e-9
        assert 0.0 <= r["q1_density"] <= 1.0
        assert 0.0 <= r["q4_density"] <= 1.0


def test_deleted_interpolation_matches_bruteforce(spark):
    """x535: replay the TnT vote with exact Fraction comparisons
    (no cross-multiplication shortcuts -- an independent route);
    invariants: lambdas sum to 1 and are all in [0, 1]."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    from poc_parquet_publisher_spark.queries.extensions import (
        x535_deleted_interpolation,
    )

    evs = defaultdict(list)
    for rr in load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect():
        evs[rr["user_id"]].append(
            (rr["ts"], rr["event_id"], rr["event_type"])
        )
    uni = Counter()
    bi = Counter()
    tri = Counter()
    for u, lst in evs.items():
        lst.sort()
        types = [t for _, _, t in lst]
        uni.update(types)
        for a, b in zip(types, types[1:]):
            bi[(a, b)] += 1
        for a, b, c in zip(types, types[1:], types[2:]):
            tri[(a, b, c)] += 1
    nn = sum(uni.values())
    lam = [0, 0, 0]
    for (a, b, c), c123 in tri.items():
        def frac(num, den):
            return Fraction(num, den) if den > 0 and num > 0 else Fraction(0)
        v3 = frac(c123 - 1, bi[(a, b)] - 1)
        v2 = frac(bi[(b, c)] - 1, uni[b] - 1)
        v1 = frac(uni[c] - 1, nn - 1)
        if v1 >= v2 and v1 >= v3:
            lam[0] += c123
        elif v2 >= v3:
            lam[1] += c123
        else:
            lam[2] += c123
    tot = sum(tri.values())
    r = x535_deleted_interpolation(spark, SF).collect()[0]
    assert r["n_distinct_trigrams"] == len(tri)
    assert r["n_trigram_tokens"] == tot
    assert abs(r["lambda_unigram"] - _round_hu(lam[0] / tot, 6)) < 1e-9
    assert abs(r["lambda_bigram"] - _round_hu(lam[1] / tot, 6)) < 1e-9
    assert abs(r["lambda_trigram"] - _round_hu(lam[2] / tot, 6)) < 1e-9
    s = r["lambda_unigram"] + r["lambda_bigram"] + r["lambda_trigram"]
    assert abs(s - 1.0) < 1e-5


def test_rrf_fusion_matches_bruteforce(spark):
    """x536: replay both rankings and the fusion; invariants: a doc
    in BOTH lists outranks the same ranks split across docs, scores
    strictly positive, output is the top-10 of the fused set."""
    from collections import Counter

    from poc_parquet_publisher_spark.ops import text as text_ops
    from poc_parquet_publisher_spark.ops.text import BM25_QUERY_TERMS
    from poc_parquet_publisher_spark.queries.extensions import (
        x536_rrf_fusion,
    )

    docs = load_table(spark, SF, "documents")
    b = text_ops.bm25_topk(docs, "doc_id", "text").collect()
    r1 = {
        row["doc_id"]: i + 1
        for i, row in enumerate(
            sorted(b, key=lambda r: (-r["bm25"], r["doc_id"]))
        )
    }
    hits = Counter()
    for rr in docs.select("doc_id", "text").collect():
        for w in rr["text"].lower().split(" "):
            if w in BM25_QUERY_TERMS:
                hits[rr["doc_id"]] += 1
    top_tf = sorted(hits.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    r2 = {d: i + 1 for i, (d, _) in enumerate(top_tf)}
    fused = {}
    for d in set(r1) | set(r2):
        s = 0.0
        if d in r1:
            s += _round_hu(1.0 / (60 + r1[d]), 10)
        if d in r2:
            s += _round_hu(1.0 / (60 + r2[d]), 10)
        fused[d] = _round_hu(s, 8)
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = x536_rrf_fusion(spark, SF).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in rows] == want
    for r in rows:
        assert r["rrf_score"] > 0
        assert (r["bm25_rank"] == -1) == (r["doc_id"] not in r1)
        assert (r["tf_rank"] == -1) == (r["doc_id"] not in r2)


def test_neardup_transitivity_matches_bruteforce(spark):
    """x537: replay wedges/closures from the collected pair set;
    invariants: transitivity in [0, 1], n_closed <= n_wedges, and
    3 * triangles == n_closed (each triangle closes exactly one
    a<c wedge per middle vertex... actually three, one per middle)."""
    from itertools import combinations

    from poc_parquet_publisher_spark.queries.extensions import (
        x537_neardup_transitivity,
        x03_dedup_ngram_jaccard,
    )

    pairs = {
        (r["id_a"], r["id_b"])
        for r in x03_dedup_ngram_jaccard(spark, SF).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    wedges = 0
    closed = 0
    for mid, nbrs in adj.items():
        for x, z in combinations(sorted(nbrs), 2):
            wedges += 1
            if (min(x, z), max(x, z)) in pairs:
                closed += 1
    tris = 0
    for a, b in pairs:
        common = adj[a] & adj[b]
        tris += len(common)
    tris //= 3
    r = x537_neardup_transitivity(spark, SF).collect()[0]
    assert r["n_edges"] == len(pairs)
    assert r["n_wedges"] == wedges
    assert r["n_closed"] == closed
    assert closed == 3 * tris
    if wedges:
        assert abs(r["transitivity"] - _round_hu(closed / wedges, 6)) < 1e-9
    assert 0.0 <= r["transitivity"] <= 1.0
    assert r["n_closed"] <= r["n_wedges"]


def test_cox_stuart_matches_bruteforce(spark):
    """x538: replay the positional half-pairing; invariants: pairs
    = n div 2 minus ties, z sign matches the dominant direction."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x538_cox_stuart,
    )

    daily = _daily_cents(spark)
    ys = [daily[d] for d in sorted(daily)]
    n = len(ys)
    h = n // 2
    npos = sum(1 for i in range(h) if ys[i + h] > ys[i])
    nneg = sum(1 for i in range(h) if ys[i + h] < ys[i])
    m = npos + nneg
    z = (npos - m / 2.0) / math.sqrt(m / 4.0)
    r = x538_cox_stuart(spark, SF).collect()[0]
    assert (r["n_up"], r["n_down"], r["n_informative"]) == (npos, nneg, m)
    assert abs(r["cox_stuart_z"] - _round_hu(z, 4)) < 1e-9
    assert m <= h
    assert (r["cox_stuart_z"] >= 0) == (npos >= nneg)


def test_page_hinkley_matches_bruteforce(spark):
    """x539: replay the integer PH recursion; invariants: PH >= 0
    everywhere, alarms only when PH crosses 3 sigma."""
    import datetime
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x539_page_hinkley,
    )

    weekly = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        monday = d - datetime.timedelta(days=d.weekday())
        weekly[monday] += int(math.floor(rr["o_totalprice"] * 100.0))
    cut = datetime.date(1999, 1, 1)
    cal = [y for w, y in weekly.items() if w < cut]
    nc = len(cal)
    mu = _round_hu(sum(cal) / nc, 4)
    sigma = _round_hu(
        math.sqrt(sum(y * y for y in cal) / nc - (sum(cal) / nc) ** 2), 4
    )
    m = 0
    mn = 0
    alarms = 0
    first = None
    maxph = 0
    ntest = 0
    for w in sorted(weekly):
        m += int(math.floor((weekly[w] - mu - sigma / 4.0) * 100.0))
        mn = min(mn, m)
        ph = m - mn
        assert ph >= 0
        if w >= cut:
            ntest += 1
            maxph = max(maxph, ph)
            if ph > 3.0 * sigma * 100.0:
                alarms += 1
                if first is None:
                    first = w
    r = x539_page_hinkley(spark, SF).collect()[0]
    assert r["n_test_weeks"] == ntest
    assert r["n_alarms"] == alarms
    assert r["first_alarm_week"] == first
    assert abs(
        r["max_ph_sigmas"] - _round_hu(maxph / (sigma * 100.0), 4)
    ) < 1e-6


def test_gumbel_matches_bruteforce(spark):
    """x540: replay the method-of-moments fit; invariants: scale > 0,
    loc below the record, p_exceed in (0, 1) and conservative (a
    record is by definition rare under the fitted law)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x540_gumbel_block_maxima,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    blocks = defaultdict(int)
    for d, y in daily.items():
        blocks[(d.year, d.month)] = max(blocks[(d.year, d.month)], y)
    mx = list(blocks.values())
    nb = len(mx)
    mean = sum(mx) / nb
    sd = math.sqrt(
        (nb * sum(v * v for v in mx) - sum(mx) ** 2) / (nb * (nb - 1.0))
    )
    scale = sd * 2.449489742783178 / 3.141592653589793
    loc = mean - 0.5772156649015329 * scale
    gmax = max(mx)
    p = 1.0 - math.exp(-math.exp(-((gmax - loc) / scale)))
    r = x540_gumbel_block_maxima(spark, SF).collect()[0]
    assert (r["n_months"], r["record_day_cents"]) == (nb, gmax)
    assert abs(r["gumbel_scale"] - _round_hu(scale, 4)) < 1e-6
    assert abs(r["gumbel_loc"] - _round_hu(loc, 4)) < 1e-6
    assert abs(r["p_exceed_record"] - _round_hu(p, 6)) < 1e-9
    assert r["gumbel_scale"] > 0
    assert r["gumbel_loc"] < gmax
    assert 0.0 < r["p_exceed_record"] < 0.5


def test_win_ratio_matches_bruteforce(spark):
    """x541: brute-force ALL treat x control pairs at sf0.001 and
    compare; invariants: wins + losses + ties = nt * nc."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x541_win_ratio,
    )

    agg = defaultdict(lambda: [0, 0])
    for rr in load_table(spark, SF, "events").select(
        "user_id", "event_type", "value"
    ).collect():
        a = agg[rr["user_id"]]
        a[0] += rr["event_type"] == "purchase"
        a[1] += int(round(rr["value"] * 100))
    treat = []
    ctrl = []
    for u, (p, s) in agg.items():
        (treat if u % 2 == 1 else ctrl).append((int(p >= 14), s))
    wins = losses = ties = 0
    for tc, ts in treat:
        for cc, cs in ctrl:
            if tc > cc or (tc == cc and ts > cs):
                wins += 1
            elif cc > tc or (tc == cc and cs > ts):
                losses += 1
            else:
                ties += 1
    r = x541_win_ratio(spark, SF).collect()[0]
    assert (r["wins"], r["losses"], r["ties"]) == (wins, losses, ties)
    assert wins + losses + ties == len(treat) * len(ctrl)
    assert abs(r["win_ratio"] - _round_hu(wins / losses, 6)) < 1e-9


def test_hodges_lehmann_matches_bruteforce(spark):
    """x542: enumerate ALL weekend x weekday pairwise differences at
    sf0.001 and take the exact multiset median; invariants: the HL
    estimate lies inside [min diff, max diff] and n_pairs = nw * nd."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x542_hodges_lehmann,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    wk = [y for d, y in daily.items() if d.isoweekday() in (6, 7)]
    wd = [y for d, y in daily.items() if d.isoweekday() not in (6, 7)]
    diffs = sorted(a - b for a in wk for b in wd)
    m = len(diffs)
    hl = (diffs[(m + 1) // 2 - 1] + diffs[(m + 2) // 2 - 1]) / 2.0
    mean_shift = sum(wk) / len(wk) - sum(wd) / len(wd)
    r = x542_hodges_lehmann(spark, SF).collect()[0]
    assert (r["n_weekend"], r["n_weekday"], r["n_pairs"]) == (
        len(wk),
        len(wd),
        m,
    )
    assert abs(r["hl_shift_cents"] - _round_hu(hl, 1)) < 1e-6
    assert abs(r["mean_shift_cents"] - _round_hu(mean_shift, 4)) < 1e-6
    assert diffs[0] <= r["hl_shift_cents"] <= diffs[-1]


def test_cochran_armitage_matches_replay(spark):
    """x543: replay the trend z and WLS slope from per-band counts;
    invariants: slope and z share a sign, pbar in (0,1)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x543_cochran_armitage,
    )

    bands = defaultdict(lambda: [0, 0])
    for rr in load_table(spark, SF, "lineitem").select(
        "l_discount", "l_returnflag"
    ).collect():
        s = int(round(rr["l_discount"] * 100.0))
        bands[s][0] += 1
        bands[s][1] += rr["l_returnflag"] == "R"
    n = sum(v[0] for v in bands.values())
    rt = sum(v[1] for v in bands.values())
    sn = sum(s * v[0] for s, v in bands.items())
    sr = sum(s * v[1] for s, v in bands.items())
    ssn = sum(s * s * v[0] for s, v in bands.items())
    num = n * sr - rt * sn
    vcore = n * ssn - sn * sn
    z = num / math.sqrt(rt * (n - rt) * vcore / n)
    r = x543_cochran_armitage(spark, SF).collect()[0]
    assert (r["n_items"], r["n_returns"]) == (n, rt)
    assert abs(r["pbar"] - _round_hu(rt / n, 6)) < 1e-9
    assert abs(
        r["trend_slope_per_band"] - _round_hu(num / vcore, 8)
    ) < 1e-9
    assert abs(r["ca_z"] - _round_hu(z, 4)) < 1e-6
    assert 0.0 < r["pbar"] < 1.0
    assert (r["ca_z"] >= 0) == (r["trend_slope_per_band"] >= 0)


def test_permutation_entropy_matches_bruteforce(spark):
    """x544: classify every consecutive-calendar triple in Python with
    the same (y_i, i) tie-break and compare counts and the normalized
    entropy; invariants: counts sum to n_triples, 0 <= PE <= 1."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x544_permutation_entropy,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    cnt = Counter()
    for d, y0 in daily.items():
        d1, d2 = d + datetime.timedelta(1), d + datetime.timedelta(2)
        if d1 not in daily or d2 not in daily:
            continue
        trip = [(y0, 0), (daily[d1], 1), (daily[d2], 2)]
        pat = "".join(str(i) for _, i in sorted(trip))
        cnt[pat] += 1
    n = sum(cnt.values())
    ent = -sum(
        (c / n) * math.log(c / n) for c in cnt.values() if c
    ) / math.log(6.0)
    r = x544_permutation_entropy(spark, SF).collect()[0]
    assert r["n_triples"] == n
    for p in ("012", "021", "102", "120", "201", "210"):
        assert r["c" + p] == cnt.get(p, 0), p
    assert abs(r["norm_perm_entropy"] - _round_hu(ent, 6)) < 1e-6
    assert 0.0 <= r["norm_perm_entropy"] <= 1.0


def test_energy_distance_matches_bruteforce(spark):
    """x545: brute-force all three pairwise |difference| sums at
    sf0.001 and compare means/E/T; invariants: E >= 0 up to rounding
    (energy distance is nonnegative), T = nm/(n+m)*E."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x545_energy_distance,
    )

    agg = defaultdict(int)
    for rr in load_table(spark, SF, "events").select(
        "user_id", "value"
    ).collect():
        agg[rr["user_id"]] += int(round(rr["value"] * 100))
    xs = [s for u, s in agg.items() if u % 2 == 1]
    ys = [s for u, s in agg.items() if u % 2 == 0]
    sxy = sum(abs(a - b) for a in xs for b in ys)
    sxx = sum(abs(a - b) for a in xs for b in xs)
    syy = sum(abs(a - b) for a in ys for b in ys)
    nx, ny = len(xs), len(ys)
    mxy, mxx, myy = sxy / (nx * ny), sxx / (nx * nx), syy / (ny * ny)
    e = 2.0 * mxy - mxx - myy
    t = nx * ny / (nx + ny) * e
    r = x545_energy_distance(spark, SF).collect()[0]
    assert (r["n_treat"], r["n_ctrl"]) == (nx, ny)
    assert abs(r["mean_dist_xy"] - _round_hu(mxy, 4)) < 1e-6
    assert abs(r["mean_dist_xx"] - _round_hu(mxx, 4)) < 1e-6
    assert abs(r["mean_dist_yy"] - _round_hu(myy, 4)) < 1e-6
    assert abs(r["e_dist_cents"] - _round_hu(e, 6)) < 1e-5
    assert abs(r["t_energy"] - _round_hu(t, 2)) < 1e-4
    assert r["e_dist_cents"] >= -1e-6


def test_yule_walker_pacf_matches_replay(spark):
    """x546: replay the exact-ACF + Durbin-Levinson algebra in Python
    (same rounding schedule); invariants: pacf1 = acf1, AR(1)-excess
    sign of pacf2 = sign(r2 - r1^2), innovation ratio in (0, 1]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x546_yule_walker_pacf,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    n = len(daily)
    s = sum(daily.values())
    cv = {d: n * y - s for d, y in daily.items()}
    d2 = sum(v * v for v in cv.values())
    import datetime

    rks = {}
    for k in (1, 2, 3):
        nk = sum(
            v * cv[d + datetime.timedelta(k)]
            for d, v in cv.items()
            if d + datetime.timedelta(k) in cv
        )
        rks[k] = _round_hu(nk / d2, 10)
    r1, r2, r3 = rks[1], rks[2], rks[3]
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    pacf3 = (r3 - phi1 * r2 - phi2 * r1) / (
        1.0 - phi1 * r1 - phi2 * r2
    )
    inno = 1.0 - phi1 * r1 - phi2 * r2
    r = x546_yule_walker_pacf(spark, SF).collect()[0]
    assert abs(r["acf1"] - _round_hu(r1, 6)) < 1e-9
    assert abs(r["acf2"] - _round_hu(r2, 6)) < 1e-9
    assert abs(r["acf3"] - _round_hu(r3, 6)) < 1e-9
    assert r["pacf1"] == r["acf1"]
    assert abs(r["pacf2"] - _round_hu(phi2, 6)) < 1e-9
    assert abs(r["pacf3"] - _round_hu(pacf3, 6)) < 1e-9
    assert abs(r["ar2_phi1"] - _round_hu(phi1, 6)) < 1e-9
    assert abs(r["ar2_phi2"] - _round_hu(phi2, 6)) < 1e-9
    assert abs(r["ar2_innovation_ratio"] - _round_hu(inno, 6)) < 1e-9
    assert (r["pacf2"] >= 0) == (r2 - r1 * r1 >= -1e-12)
    assert 0.0 < r["ar2_innovation_ratio"] <= 1.0


def test_jonckheere_terpstra_matches_bruteforce(spark):
    """x547: brute-force every cross-band pair at sf0.001 (wins /
    ties), replay the tie-corrected variance; invariants: wins +
    ties <= total cross-band pairs, z sign = (JT - E) sign."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x547_jonckheere_terpstra,
    )

    groups = defaultdict(list)
    for rr in load_table(spark, SF, "lineitem").select(
        "l_discount", "l_quantity"
    ).collect():
        s = int(round(rr["l_discount"] * 100.0))
        groups[s].append(int(round(rr["l_quantity"])))
    wins = ties = 0
    keys = sorted(groups)
    for i, si in enumerate(keys):
        for sj in keys[i + 1:]:
            for qa in groups[si]:
                for qb in groups[sj]:
                    if qa < qb:
                        wins += 1
                    elif qa == qb:
                        ties += 1
    ns = [len(v) for v in groups.values()]
    n = sum(ns)
    tv = Counter()
    for v in groups.values():
        tv.update(v)
    sg1 = sum(x * (x - 1) for x in ns)
    sg2 = sum(x * (x - 1) * (2 * x + 5) for x in ns)
    sg3 = sum(x * (x - 1) * (x - 2) for x in ns)
    st1 = sum(t * (t - 1) for t in tv.values())
    st2 = sum(t * (t - 1) * (2 * t + 5) for t in tv.values())
    st3 = sum(t * (t - 1) * (t - 2) for t in tv.values())
    var = (
        (n * (n - 1) * (2 * n + 5) - sg2 - st2) / 72.0
        + sg3 * st3 / (36.0 * n * (n - 1) * (n - 2))
        + sg1 * st1 / (8.0 * n * (n - 1))
    )
    sn2 = sum(x * x for x in ns)
    num4 = 4 * wins + 2 * ties - (n * n - sn2)
    z = num4 / (4.0 * math.sqrt(var))
    r = x547_jonckheere_terpstra(spark, SF).collect()[0]
    assert (r["n_items"], r["wins"], r["ties"]) == (n, wins, ties)
    assert abs(r["jt_stat"] - _round_hu(wins + ties / 2.0, 1)) < 1e-6
    assert abs(r["e_jt"] - _round_hu((n * n - sn2) / 4.0, 2)) < 1e-6
    assert abs(r["jt_z"] - _round_hu(z, 4)) < 1e-6
    cross_pairs = (n * n - sn2) // 2
    assert wins + ties <= cross_pairs
    assert (r["jt_z"] >= 0) == (num4 >= 0)


def test_quade_matches_replay(spark):
    """x548: replay the Quade statistic in Python with scipy-style
    average ranks over the complete weeks; invariants: sum of S4_j
    over treatments is 0, F >= 0.  Runs at sf0.01: sf0.001's
    gap-sparse calendar (1094 of ~2400 days) has NO complete week,
    so the entry is vacuously empty there (asserted below)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x548_quade_test,
    )

    assert x548_quade_test(spark, SF).count() == 0

    SF01 = "/root/testdata/sf0.01"
    daily = defaultdict(int)
    for rr in load_table(spark, SF01, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    weeks = defaultdict(dict)
    for d, y in daily.items():
        wk = d - datetime.timedelta(days=d.isoweekday() - 1)
        weeks[wk][d.isoweekday() - 1] = y
    full = {w: m for w, m in weeks.items() if len(m) == 7}

    def avg_rank2(vals):
        # 2x the average rank of each value in vals
        out = []
        for v in vals:
            less = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            out.append(2 * less + eq + 1)
        return out

    rngs = {w: max(m.values()) - min(m.values()) for w, m in full.items()}
    wk_list = sorted(full)
    q2s = avg_rank2([rngs[w] for w in wk_list])
    s4 = defaultdict(int)
    a16 = 0
    for w, q2 in zip(wk_list, q2s):
        vals = [full[w][j] for j in range(7)]
        r2s = avg_rank2(vals)
        for j, r2 in enumerate(r2s):
            v = q2 * (r2 - 8)
            s4[j] += v
            a16 += v * v
    nb = len(wk_list)
    b16n = sum(v * v for v in s4.values())
    f = (nb - 1) * b16n / (nb * a16 - b16n)
    rows = {
        r["weekday_mon0"]: r
        for r in x548_quade_test(spark, SF01).collect()
    }
    assert len(rows) == 7
    for j in range(7):
        assert rows[j]["s4_j"] == s4[j], j
        assert rows[j]["n_blocks"] == nb
        assert abs(rows[j]["quade_f"] - _round_hu(f, 4)) < 1e-6
    assert sum(r["s4_j"] for r in rows.values()) == 0
    assert rows[0]["quade_f"] >= 0


def test_newey_west_matches_replay(spark):
    """x549: replay gamma_k and the Bartlett-weighted long-run
    variance; invariants: ratio > 0, se_nw = se_iid * ratio."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x549_newey_west,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    n = len(daily)
    s = sum(daily.values())
    cv = {d: n * y - s for d, y in daily.items()}
    n0 = sum(v * v for v in cv.values())
    wsum = 0.0
    for k in range(1, 6):
        nk = sum(
            v * cv[d + datetime.timedelta(k)]
            for d, v in cv.items()
            if d + datetime.timedelta(k) in cv
        )
        wsum += (1.0 - k / 6.0) * nk
    gamma0 = n0 / (n * n * n)
    lrv = max((n0 + 2.0 * wsum) / (n * n * n), 0.0)
    r = x549_newey_west(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["gamma0_cents2"] - _round_hu(gamma0, 2)) < 1e-6
    assert abs(r["se_iid_cents"] - _round_hu(math.sqrt(gamma0 / n), 2)) < 1e-6
    assert abs(r["se_nw_cents"] - _round_hu(math.sqrt(lrv / n), 2)) < 1e-6
    assert abs(
        r["nw_iid_se_ratio"] - _round_hu(math.sqrt(lrv / gamma0), 6)
    ) < 1e-9
    assert r["nw_iid_se_ratio"] > 0


def test_dickey_fuller_matches_replay(spark):
    """x550: replay the OLS of one-day changes on lagged levels;
    invariants: a mean-reverting revenue series has beta < 0, and
    the rejection flag agrees with t vs -2.86."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x550_dickey_fuller,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    pairs = [
        (y, daily[d + datetime.timedelta(1)] - y)
        for d, y in daily.items()
        if d + datetime.timedelta(1) in daily
    ]
    m = len(pairs)
    sx = sum(x for x, _ in pairs)
    sd = sum(d for _, d in pairs)
    sxd = sum(x * d for x, d in pairs)
    sxx = sum(x * x for x, _ in pairs)
    sdd = sum(d * d for _, d in pairs)
    cxx = m * sxx - sx * sx
    cxd = m * sxd - sx * sd
    cdd = m * sdd - sd * sd
    beta = cxd / cxx
    alpha = (sd - beta * sx) / m
    s2 = ((cdd - cxd * cxd / cxx) / m) / (m - 2)
    t = beta / math.sqrt(s2 / (cxx / m))
    r = x550_dickey_fuller(spark, SF).collect()[0]
    assert r["n_pairs"] == m
    assert abs(r["alpha_cents"] - _round_hu(alpha, 4)) < 1e-6
    assert abs(r["beta"] - _round_hu(beta, 8)) < 1e-9
    assert abs(r["df_t"] - _round_hu(t, 4)) < 1e-6
    assert r["reject_unit_root_5pct"] == (1 if t < -2.86 else 0)
    assert r["beta"] < 0


def test_granger_matches_replay(spark):
    """x551: replay both two-predictor OLS F tests via numpy lstsq
    residuals; invariants: F >= 0 in both directions."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x551_granger_causality,
    )

    rev = defaultdict(int)
    cnt = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        rev[d] += int(math.floor(rr["o_totalprice"] * 100.0))
        cnt[d] += 1
    import datetime

    rows = [
        (rev[d + datetime.timedelta(1)], rev[d],
         cnt[d + datetime.timedelta(1)], cnt[d])
        for d in rev
        if d + datetime.timedelta(1) in rev
    ]
    y = np.array([r[0] for r in rows], dtype=float)
    yl = np.array([r[1] for r in rows], dtype=float)
    c = np.array([r[2] for r in rows], dtype=float)
    cl = np.array([r[3] for r in rows], dtype=float)
    m = len(rows)

    def f_and_beta(resp, p1, p2):
        Xu = np.column_stack([np.ones(m), p1, p2])
        Xr = np.column_stack([np.ones(m), p1])
        bu, *_ = np.linalg.lstsq(Xu, resp, rcond=None)
        br, *_ = np.linalg.lstsq(Xr, resp, rcond=None)
        rssu = float(((resp - Xu @ bu) ** 2).sum())
        rssr = float(((resp - Xr @ br) ** 2).sum())
        return (rssr - rssu) / (rssu / (m - 3)), float(bu[2])

    f_cy, b_cy = f_and_beta(y, yl, cl)
    f_yc, b_yc = f_and_beta(c, cl, yl)
    r = x551_granger_causality(spark, SF).collect()[0]
    assert r["n_pairs"] == m
    assert abs(r["f_orders_to_revenue"] - _round_hu(f_cy, 4)) < 1e-3
    assert abs(r["beta_orders_to_revenue"] - _round_hu(b_cy, 8)) < 1e-6
    assert abs(r["f_revenue_to_orders"] - _round_hu(f_yc, 4)) < 1e-3
    assert abs(r["beta_revenue_to_orders"] - _round_hu(b_yc, 8)) < 1e-6
    assert r["f_orders_to_revenue"] >= 0
    assert r["f_revenue_to_orders"] >= 0


def test_sobel_mediation_matches_replay(spark):
    """x552: replay both regressions via numpy lstsq; invariants:
    indirect = a*b, prop_mediated = ab/total effect."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x552_sobel_mediation,
    )

    rows = load_table(spark, SF, "lineitem").select(
        "l_discount", "l_quantity", "l_extendedprice"
    ).collect()
    x = np.array([int(round(r["l_discount"] * 100)) for r in rows], float)
    m = np.array([int(round(r["l_quantity"])) for r in rows], float)
    y = np.array(
        [int(math.floor(r["l_extendedprice"] * 100)) for r in rows], float
    )
    n = len(rows)
    Xa = np.column_stack([np.ones(n), x])
    ca, *_ = np.linalg.lstsq(Xa, m, rcond=None)
    a = float(ca[1])
    resid_m = m - Xa @ ca
    se_a2 = float((resid_m**2).sum() / (n - 2) / ((x - x.mean()) ** 2).sum())
    Xb = np.column_stack([np.ones(n), x, m])
    cb, *_ = np.linalg.lstsq(Xb, y, rcond=None)
    b = float(cb[2])
    resid_y = y - Xb @ cb
    s2 = float((resid_y**2).sum() / (n - 3))
    xc = np.column_stack([x - x.mean(), m - m.mean()])
    inv = np.linalg.inv(xc.T @ xc)
    se_b2 = s2 * float(inv[1, 1])
    total = float(np.polyfit(x, y, 1)[0])
    z = a * b / math.sqrt(b * b * se_a2 + a * a * se_b2)
    r = x552_sobel_mediation(spark, SF).collect()[0]
    assert r["n_items"] == n
    assert abs(r["a_x_to_m"] - _round_hu(a, 8)) < 1e-6
    assert abs(r["b_m_to_y"] - _round_hu(b, 8)) < 1e-4
    assert abs(r["indirect_ab"] - _round_hu(a * b, 8)) < 1e-4
    assert abs(r["sobel_z"] - _round_hu(z, 4)) < 1e-2
    assert abs(r["prop_mediated"] - _round_hu(a * b / total, 6)) < 1e-4


def test_hosmer_lemeshow_matches_replay(spark):
    """x553: replay the linear-probability fit and the HL chi2 with
    the same rounding schedule; invariants: 11 bands, every
    expected count positive, chi2 >= 0 and identical on all rows."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x553_hosmer_lemeshow,
    )

    bands = defaultdict(lambda: [0, 0])
    for rr in load_table(spark, SF, "lineitem").select(
        "l_discount", "l_returnflag"
    ).collect():
        s = int(round(rr["l_discount"] * 100.0))
        bands[s][0] += 1
        bands[s][1] += rr["l_returnflag"] == "R"
    n = sum(v[0] for v in bands.values())
    rt = sum(v[1] for v in bands.values())
    sn = sum(s * v[0] for s, v in bands.items())
    sr = sum(s * v[1] for s, v in bands.items())
    ssn = sum(s * s * v[0] for s, v in bands.items())
    pbar, slope, sbar = rt / n, (n * sr - rt * sn) / (n * ssn - sn * sn), sn / n
    chi2 = 0.0
    per = {}
    for s, (ng, og) in bands.items():
        ph = _round_hu(pbar + slope * (s - sbar), 10)
        term = _round_hu((og - ph * ng) ** 2 / (ph * ng * (1 - ph)), 6)
        per[s] = (_round_hu(ph * ng, 4), term)
        chi2 += term
    rows = {r["band"]: r for r in x553_hosmer_lemeshow(spark, SF).collect()}
    assert len(rows) == 11
    for s, r in rows.items():
        assert abs(r["expected"] - per[s][0]) < 1e-6
        assert abs(r["hl_term"] - per[s][1]) < 1e-6
        assert abs(r["hl_chi2"] - _round_hu(chi2, 4)) < 1e-6
        assert r["expected"] > 0
        assert r["hl_chi2"] >= 0


def test_moran_geary_matches_replay(spark):
    """x554: replay both statistics; invariants: I in [-1,1]-ish
    band, C > 0, and sign(I - E[I]) opposite sign(C - 1) for
    positively autocorrelated data."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x554_moran_geary,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    n = len(daily)
    s = sum(daily.values())
    cv = {d: n * y - s for d, y in daily.items()}
    d2 = sum(v * v for v in cv.values())
    pairs = [
        (v, cv[d + datetime.timedelta(1)])
        for d, v in cv.items()
        if d + datetime.timedelta(1) in cv
    ]
    np_ = len(pairs)
    cross = sum(a * b for a, b in pairs)
    diff2 = sum((a - b) ** 2 for a, b in pairs)
    moran = (n / (2.0 * np_)) * (2.0 * cross) / d2
    geary = ((n - 1) / (2.0 * (2.0 * np_))) * (2.0 * diff2) / d2
    r = x554_moran_geary(spark, SF).collect()[0]
    assert (r["n_days"], r["n_adj_pairs"]) == (n, np_)
    assert abs(r["moran_i"] - _round_hu(moran, 6)) < 1e-9
    assert abs(r["geary_c"] - _round_hu(geary, 6)) < 1e-9
    assert abs(r["e_moran"] - _round_hu(-1.0 / (n - 1), 6)) < 1e-9
    assert -1.5 < r["moran_i"] < 1.5
    assert r["geary_c"] > 0


def test_sample_entropy_matches_bruteforce(spark):
    """x555: brute-force the template matching at sf0.001;
    invariants: A <= B (3-coordinate matches are a subset),
    sampen > 0."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x555_sample_entropy,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    n = len(daily)
    s1 = sum(daily.values())
    s2 = sum(y * y for y in daily.values())
    sd = math.sqrt((n * s2 - s1 * s1) / (n * (n - 1.0)))
    rtol = int(math.floor(0.2 * sd))
    tri = []
    for d, y0 in sorted(daily.items()):
        d1, d2_ = d + datetime.timedelta(1), d + datetime.timedelta(2)
        if d1 in daily and d2_ in daily:
            tri.append((d, y0, daily[d1], daily[d2_]))
    b_cnt = a_cnt = 0
    for i, (di, a0, a1, a2) in enumerate(tri):
        for j, (dj, b0, b1, b2) in enumerate(tri):
            if di == dj:
                continue
            if abs(a0 - b0) <= rtol and abs(a1 - b1) <= rtol:
                b_cnt += 1
                if abs(a2 - b2) <= rtol:
                    a_cnt += 1
    r = x555_sample_entropy(spark, SF).collect()[0]
    assert r["n_templates"] == len(tri)
    assert r["r_cents"] == rtol
    assert (r["b_cnt"], r["a_cnt"]) == (b_cnt, a_cnt)
    assert abs(
        r["sample_entropy"] - _round_hu(-math.log(a_cnt / b_cnt), 6)
    ) < 1e-9
    assert a_cnt <= b_cnt
    assert r["sample_entropy"] > 0


def test_grubbs_matches_replay(spark):
    """x556: replay G, the argmax day, and the tail bound;
    invariants: G > 0, p bound positive, flagged day holds the
    max absolute deviation."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x556_grubbs_outlier,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    n = len(daily)
    s = sum(daily.values())
    ac = {d: abs(n * y - s) for d, y in daily.items()}
    maxc = max(ac.values())
    day = min(d for d, v in ac.items() if v == maxc)
    d2 = sum(v * v for v in ac.values())
    g = (maxc / n) / math.sqrt(d2 / (n * n * (n - 1.0)))
    phi = math.exp(-g * g / 2.0) / 2.5066282746310002
    p = 2.0 * n * phi * (
        1.0 / (0.226 + 0.64 * g + math.sqrt(g * g * 0.4096 + 5.0216))
    )
    r = x556_grubbs_outlier(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["grubbs_g"] - _round_hu(g, 4)) < 1e-6
    assert r["outlier_day"] == day
    assert r["outlier_y_cents"] == daily[day]
    assert abs(r["p_bound_bonferroni"] - _round_hu(p, 8)) < 1e-9
    assert r["grubbs_g"] > 0
    assert r["p_bound_bonferroni"] > 0


def test_lorenz_pietra_matches_bruteforce(spark):
    """x557: sort per-customer spends and replay decile shares +
    Pietra; invariants: shares nondecreasing, share(10) = 1,
    Pietra >= 0."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x557_lorenz_pietra,
    )

    cust = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        cust[rr["o_custkey"]] += int(math.floor(rr["o_totalprice"] * 100.0))
    spends = sorted(cust.values())
    n = len(spends)
    total = sum(spends)
    cumsum = []
    acc = 0
    for v in spends:
        acc += v
        cumsum.append(acc)
    rows = {r["decile"]: r for r in x557_lorenz_pietra(spark, SF).collect()}
    assert len(rows) == 10
    prev = -1.0
    for k in range(1, 11):
        r_k = (k * n + 9) // 10
        share = _round_hu(cumsum[r_k - 1] / total, 6)
        assert rows[k]["rank_cutoff"] == r_k
        assert abs(rows[k]["lorenz_share"] - share) < 1e-9, k
        assert rows[k]["lorenz_share"] >= prev
        prev = rows[k]["lorenz_share"]
    assert rows[10]["lorenz_share"] == 1.0
    pietra = max(
        (i + 1) / n - cumsum[i] / total for i in range(n)
    )
    assert abs(rows[1]["pietra_index"] - _round_hu(pietra, 6)) < 1e-6
    assert rows[1]["pietra_index"] >= 0


def test_spectral_summary_matches_replay(spark):
    """x558: replay the quantized projections and all summary stats;
    invariants: g >= 1/13, entropy in [0,1], flatness in (0,1],
    p bound in [0, 13]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x558_spectral_summary,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    n = len(daily)
    s = sum(daily.values())
    d0 = min(daily)
    import decimal

    powers = {}
    for p in range(2, 15):
        cc = ss = 0
        for d, y in daily.items():
            t = (d - d0).days
            cv = n * y - s
            qc = int(math.floor(
                math.cos(6.283185307179586 * (t % p) / p) * 1e10
            ))
            qs = int(math.floor(
                math.sin(6.283185307179586 * (t % p) / p) * 1e10
            ))
            cc += cv * qc
            ss += cv * qs
        powers[p] = decimal.Decimal(
            repr(_round_hu((float(cc) * float(cc)
                            + float(ss) * float(ss)) / 1e40, 8))
        )
    tp = sum(powers.values())
    shares = {p: _round_hu(float(powers[p]) / float(tp), 10)
              for p in powers}
    h = sum(
        _round_hu(-sh * math.log(sh), 12) for sh in shares.values() if sh > 0
    )
    lsum = sum(_round_hu(math.log(sh), 12) for sh in shares.values())
    ssum = sum(_round_hu(sh, 12) for sh in shares.values())
    g = max(shares.values())
    peak = min(p for p, sh in shares.items() if sh == g)
    q = 1.0 - g
    p_bound = 13.0 * (q * q * q * q * q * q * q * q * q * q * q * q)
    r = x558_spectral_summary(spark, SF).collect()[0]
    assert r["n_periods"] == 13
    assert r["peak_period"] == peak
    assert abs(r["fisher_g"] - _round_hu(g, 6)) < 1e-9
    assert abs(r["fisher_p_bound"] - _round_hu(p_bound, 8)) < 1e-9
    assert abs(
        r["spectral_entropy_norm"] - _round_hu(h / math.log(13.0), 6)
    ) < 1e-6
    assert abs(
        r["spectral_flatness"]
        - _round_hu(math.exp(lsum / 13.0) / (ssum / 13.0), 6)
    ) < 1e-6
    assert r["fisher_g"] >= 1.0 / 13.0
    assert 0.0 <= r["spectral_entropy_norm"] <= 1.0
    assert 0.0 < r["spectral_flatness"] <= 1.0
    assert 0.0 <= r["fisher_p_bound"] <= 13.0


def test_rake_matches_bruteforce(spark):
    """x559: full Python RAKE replay (segmentation, degree/frequency,
    phrase scores, top-15 ordering); invariants: every returned
    phrase contains no stopword, scores nonincreasing."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops import text as text_ops
    from poc_parquet_publisher_spark.queries.extensions import (
        x559_rake_keywords,
    )

    stop = set(text_ops.LANG_STOPWORDS["en"])
    phrases = []  # (doc_id, phrase_id, [words])
    for rr in load_table(spark, SF, "documents").collect():
        words = rr["text"].lower().split(" ")
        pid = 0
        cur = []
        for w in words:
            if w in stop or w == "":
                pid += 1
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
    freq = defaultdict(int)
    deg = defaultdict(int)
    for ph in phrases:
        for w in ph:
            freq[w] += 1
            deg[w] += len(ph)
    wscore = {w: _round_hu(deg[w] / freq[w], 10) for w in freq}
    import decimal

    pscore = {}
    pcount = defaultdict(int)
    for ph in phrases:
        key = " ".join(ph)
        sc = float(
            sum(
                decimal.Decimal(repr(_round_hu(wscore[w], 10)))
                for w in ph
            )
        )
        pscore[key] = sc
        pcount[key] += 1
    ranked = sorted(
        pscore.items(), key=lambda kv: (-_round_hu(kv[1], 4), kv[0])
    )[:15]
    rows = x559_rake_keywords(spark, SF).collect()
    assert len(rows) == 15
    prev = float("inf")
    for r, (ph, sc) in zip(rows, ranked):
        assert r["phrase"] == ph
        assert r["n_occurrences"] == pcount[ph]
        assert abs(r["rake_score"] - _round_hu(sc, 4)) < 1e-6
        assert not (set(r["phrase"].split()) & stop)
        assert r["rake_score"] <= prev
        prev = r["rake_score"]


def test_tukey_hsd_matches_replay(spark):
    """x560: replay per-region moments, MSW and all 10 q statistics;
    invariants: 10 pairs, q >= 0, significance flag consistent."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x560_tukey_hsd,
    )

    cust2nat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, SF, "customer").collect()
    }
    nat2reg = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in load_table(spark, SF, "nation").collect()
    }
    reg2name = {
        r["r_regionkey"]: r["r_name"]
        for r in load_table(spark, SF, "region").collect()
    }
    g = defaultdict(lambda: [0, 0, 0])
    for rr in load_table(spark, SF, "orders").collect():
        reg = reg2name[nat2reg[cust2nat[rr["o_custkey"]]]]
        y = int(math.floor(rr["o_totalprice"] * 100.0))
        g[reg][0] += 1
        g[reg][1] += y
        g[reg][2] += y * y
    n = sum(v[0] for v in g.values())
    k = len(g)
    ssw = sum(
        _round_hu((ng * s2 - s1 * s1) / ng / 10000.0, 4)
        for ng, s1, s2 in g.values()
    )
    msw = ssw * 10000.0 / (n - k)
    rows = x560_tukey_hsd(spark, SF).collect()
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        na, s1a, _ = (
            g[r["region_a"]][0],
            g[r["region_a"]][1],
            g[r["region_a"]][2],
        )
        nb, s1b = g[r["region_b"]][0], g[r["region_b"]][1]
        md = _round_hu(s1a / na - s1b / nb, 4)
        q = abs(md) / math.sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb))
        assert abs(r["mean_diff"] - md) < 1e-6
        assert abs(r["q_stat"] - _round_hu(q, 4)) < 1e-6
        assert r["q_stat"] >= 0
        assert r["significant_5pct"] == (1 if q > 3.858 else 0)
        assert r["region_a"] < r["region_b"]


def test_cucconi_matches_bruteforce(spark):
    """x561: replay with scipy-style midranks computed directly from
    the pooled sorted sample; invariants: C >= 0, U/V share the
    null standardization."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x561_cucconi_test,
    )

    agg = defaultdict(int)
    for rr in load_table(spark, SF, "events").select(
        "user_id", "value"
    ).collect():
        agg[rr["user_id"]] += int(round(rr["value"] * 100))
    xs = [s for u, s in agg.items() if u % 2 == 1]
    ys = [s for u, s in agg.items() if u % 2 == 0]
    pooled = sorted(xs + ys)
    nn = len(pooled)
    # midrank of value v = (#below) + (#eq + 1)/2
    from bisect import bisect_left, bisect_right

    def midrank(v):
        lo, hi = bisect_left(pooled, v), bisect_right(pooled, v)
        return lo + (hi - lo + 1) / 2.0

    sr2 = sum(midrank(v) ** 2 for v in xs)
    ar2 = sum((nn + 1 - midrank(v)) ** 2 for v in xs)
    n, m = len(xs), len(ys)
    den = math.sqrt(
        m * n * (nn + 1.0) * (2.0 * nn + 1.0) * (8.0 * nn + 11.0) / 5.0
    )
    u = (6.0 * sr2 - n * (nn + 1.0) * (2.0 * nn + 1.0)) / den
    v = (6.0 * ar2 - n * (nn + 1.0) * (2.0 * nn + 1.0)) / den
    rho = (
        2.0 * (nn * nn - 4.0) / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0))
        - 1.0
    )
    c = (u * u + v * v - 2.0 * rho * u * v) / (2.0 * (1.0 - rho * rho))
    r = x561_cucconi_test(spark, SF).collect()[0]
    assert (r["n_treat"], r["n_ctrl"]) == (n, m)
    assert abs(r["u_stat"] - _round_hu(u, 4)) < 1e-6
    assert abs(r["v_stat"] - _round_hu(v, 4)) < 1e-6
    assert abs(r["rho"] - _round_hu(rho, 6)) < 1e-9
    assert abs(r["cucconi_c"] - _round_hu(c, 4)) < 1e-6
    assert r["cucconi_c"] >= 0


def test_transition_reciprocity_matches_bruteforce(spark):
    """x562: rebuild the transition multigraph in Python;
    invariants: weighted reciprocity in [0,1], dyadic >= weighted
    is NOT guaranteed but both are in [0,1]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x562_transition_reciprocity,
    )

    ev = defaultdict(list)
    for rr in load_table(spark, SF, "events").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect():
        ev[rr["user_id"]].append(
            (rr["ts"], rr["event_id"], rr["event_type"])
        )
    w = defaultdict(int)
    for u, rows in ev.items():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            w[(a, b)] += 1
    n_trans = sum(w.values())
    off = {(a, b): c for (a, b), c in w.items() if a != b}
    w_off = sum(off.values())
    w_rec = sum(min(c, w.get((b, a), 0)) for (a, b), c in off.items())
    dyads = {(a, b) for (a, b) in off if a < b}
    dyads_conn = len(dyads) + sum(
        1 for (a, b) in off if a > b and (b, a) not in off
    )
    dyads_rec = sum(1 for (a, b) in dyads if (b, a) in off)
    r = x562_transition_reciprocity(spark, SF).collect()[0]
    assert r["n_transitions"] == n_trans
    assert r["w_offdiag"] == w_off
    assert abs(
        r["reciprocity_weighted"] - _round_hu(w_rec / w_off, 6)
    ) < 1e-9
    assert r["dyads_connected"] == dyads_conn
    assert r["dyads_reciprocated"] == dyads_rec
    assert 0.0 <= r["reciprocity_weighted"] <= 1.0
    assert 0.0 <= r["reciprocity_dyadic"] <= 1.0


def test_burrows_delta_matches_bruteforce(spark):
    """x563: full Python replay of the top-50 word z-profile;
    invariants: all deltas > 0, words_used <= 50, result ordered
    by delta desc."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x563_burrows_delta,
    )

    src_tokens = defaultdict(list)
    corpus = Counter()
    for rr in load_table(spark, SF, "documents").collect():
        ws = [w for w in rr["text"].lower().split(" ") if w != ""]
        src_tokens[rr["source"]].extend(ws)
        corpus.update(ws)
    topw = sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    topw = [w for w, _ in topw]
    sources = sorted(src_tokens)
    k = len(sources)
    f = {}
    for s in sources:
        c = Counter(src_tokens[s])
        toks = len(src_tokens[s])
        for w in topw:
            f[(s, w)] = _round_hu(c.get(w, 0) / toks, 10)
    import decimal

    deltas = {}
    nwords = {}
    for s in sources:
        deltas[s] = decimal.Decimal(0)
        nwords[s] = 0
    for w in topw:
        sf = float(sum(decimal.Decimal(repr(f[(s, w)])) for s in sources))
        sf2 = float(
            sum(
                decimal.Decimal(repr(_round_hu(f[(s, w)] ** 2, 20)))
                for s in sources
            )
        )
        var = max(sf2 / k - (sf / k) * (sf / k), 0.0)
        sigma = math.sqrt(var)
        if sigma <= 0.0:
            continue
        mu = sf / k
        for s in sources:
            deltas[s] += decimal.Decimal(
                repr(_round_hu(abs(f[(s, w)] - mu) / sigma, 8))
            )
            nwords[s] += 1
    fin = sorted(
        (
            (s, nwords[s], _round_hu(float(deltas[s]) / nwords[s], 6))
            for s in sources
        ),
        key=lambda t: (-t[2], t[0]),
    )[:15]
    rows = x563_burrows_delta(spark, SF).collect()
    assert len(rows) == min(15, k)
    for r, (s, nw, d) in zip(rows, fin):
        assert r["source"] == s
        assert r["n_words_used"] == nw
        assert abs(r["burrows_delta"] - d) < 1e-6
        assert r["burrows_delta"] > 0
        assert r["n_words_used"] <= 50


def test_spiegelhalter_matches_replay(spark):
    """x564: replay Z and Brier off the band table with identical
    rounding; invariants: Brier in (0, 0.25+eps] for a binary
    outcome with a near-constant model, |Z| finite."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x564_spiegelhalter_z,
    )

    bands = defaultdict(lambda: [0, 0])
    for rr in load_table(spark, SF, "lineitem").select(
        "l_discount", "l_returnflag"
    ).collect():
        s = int(round(rr["l_discount"] * 100.0))
        bands[s][0] += 1
        bands[s][1] += rr["l_returnflag"] == "R"
    n = sum(v[0] for v in bands.values())
    rt = sum(v[1] for v in bands.values())
    sn = sum(s * v[0] for s, v in bands.items())
    sr = sum(s * v[1] for s, v in bands.items())
    ssn = sum(s * s * v[0] for s, v in bands.items())
    pbar, slope, sbar = rt / n, (n * sr - rt * sn) / (n * ssn - sn * sn), sn / n
    znum = zden = bsum = 0.0
    for s, (ng, og) in bands.items():
        p = _round_hu(pbar + slope * (s - sbar), 10)
        znum += _round_hu((og - p * ng) * (1.0 - 2.0 * p), 8)
        zden += _round_hu(ng * (1.0 - 2.0 * p) ** 2 * p * (1.0 - p), 8)
        bsum += _round_hu(og * (1.0 - p) ** 2 + (ng - og) * p * p, 6)
    r = x564_spiegelhalter_z(spark, SF).collect()[0]
    assert r["n_items"] == n
    assert abs(r["brier_score"] - _round_hu(bsum / n, 8)) < 1e-6
    assert abs(
        r["spiegelhalter_z"] - _round_hu(znum / math.sqrt(zden), 4)
    ) < 1e-6
    assert 0.0 < r["brier_score"] <= 0.26


def test_anisotropy_matches_bruteforce(spark):
    """x565: brute-force ALL pairwise cosines of the quantized unit
    vectors at sf0.001; invariants: mean_cos in [-1,1], rogue share
    in (0,1], mu_norm_sq >= 0."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x565_embedding_anisotropy,
    )

    vecs = []
    for rr in load_table(spark, SF, "embeddings").collect():
        qv = [int(math.floor(float(v) * 1048576.0)) for v in rr["embedding"]]
        nq = sum(x * x for x in qv)
        qu = [
            int(math.floor(x * 1048576.0 / math.sqrt(nq))) for x in qv
        ]
        vecs.append(qu)
    n = len(vecs)
    d = len(vecs[0])
    sj = [sum(v[j] for v in vecs) for j in range(d)]
    ss = sum(x * x for v in vecs for x in v)
    sum_sj2 = sum(s * s for s in sj)
    two40 = 1099511627776.0
    mean_cos = (sum_sj2 - ss) / (n * (n - 1.0)) / two40
    brute = sum(
        sum(a * b for a, b in zip(vecs[i], vecs[k]))
        for i in range(n)
        for k in range(n)
        if i != k
    ) / (n * (n - 1.0)) / two40
    assert abs(mean_cos - brute) < 1e-12
    max_abs = max(abs(s) for s in sj)
    rogue = min(j + 1 for j, s in enumerate(sj) if abs(s) == max_abs)
    share = sj[rogue - 1] ** 2 / sum_sj2
    r = x565_embedding_anisotropy(spark, SF).collect()[0]
    assert r["n_vecs"] == n
    assert abs(r["mean_pairwise_cos"] - _round_hu(mean_cos, 6)) < 1e-9
    assert abs(
        r["mu_norm_sq"] - _round_hu(sum_sj2 / (n * n) / two40, 6)
    ) < 1e-9
    assert r["rogue_dim"] == rogue
    assert abs(r["rogue_dim_share"] - _round_hu(share, 6)) < 1e-9
    assert -1.0 <= r["mean_pairwise_cos"] <= 1.0
    assert 0.0 < r["rogue_dim_share"] <= 1.0
    assert r["mu_norm_sq"] >= 0.0


def test_arch_lm_matches_replay(spark):
    """x566: replay the squared-change autoregression; invariants:
    LM = m * R2, R2 in [0,1]."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x566_arch_lm,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    import datetime

    q = {}
    for d, y in daily.items():
        nd = d + datetime.timedelta(1)
        if nd in daily:
            q[d] = ((daily[nd] - y) ** 2) // 100000000
    pairs = [
        (v, q[d + datetime.timedelta(1)])
        for d, v in q.items()
        if d + datetime.timedelta(1) in q
    ]
    m = len(pairs)
    sx = sum(x for x, _ in pairs)
    sz = sum(z for _, z in pairs)
    sxz = sum(x * z for x, z in pairs)
    sxx = sum(x * x for x, _ in pairs)
    szz = sum(z * z for _, z in pairs)
    cxx = m * sxx - sx * sx
    cxz = m * sxz - sx * sz
    czz = m * szz - sz * sz
    r2 = cxz * cxz / (cxx * czz)
    r = x566_arch_lm(spark, SF).collect()[0]
    assert r["n_pairs"] == m
    assert abs(r["arch_slope"] - _round_hu(cxz / cxx, 8)) < 1e-9
    assert abs(r["r2"] - _round_hu(r2, 6)) < 1e-9
    assert abs(r["arch_lm"] - _round_hu(m * r2, 4)) < 1e-6
    assert 0.0 <= r["r2"] <= 1.0


def test_christoffersen_matches_replay(spark):
    """x567: replay threshold, transitions and all three LRs;
    invariants: lr_cc = lr_uc + lr_ind, all LRs >= -1e-9,
    transition counts sum to adjacent-pair count."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x567_christoffersen,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    n = len(daily)
    vals = sorted(daily.values())
    thr = vals[(19 * n + 19) // 20 - 1]
    import datetime

    cnt = {"00": 0, "01": 0, "10": 0, "11": 0}
    for d, y in daily.items():
        nd = d + datetime.timedelta(1)
        if nd in daily:
            a = 1 if y > thr else 0
            b = 1 if daily[nd] > thr else 0
            cnt[f"{a}{b}"] += 1
    n00, n01, n10, n11 = cnt["00"], cnt["01"], cnt["10"], cnt["11"]
    m = n00 + n01 + n10 + n11
    pi = (n01 + n11) / m
    pi0 = n01 / (n00 + n01) if n00 + n01 else 0.0
    pi1 = n11 / (n10 + n11) if n10 + n11 else 0.0

    def xln(c, v):
        return 0.0 if c == 0 or v <= 0.0 else c * math.log(v)

    lr_ind = -2.0 * (
        xln(n00 + n10, 1 - pi) + xln(n01 + n11, pi)
    ) + 2.0 * (
        xln(n00, 1 - pi0) + xln(n01, pi0)
        + xln(n10, 1 - pi1) + xln(n11, pi1)
    )
    lr_uc = -2.0 * (
        (n01 + n11) * math.log(0.05) + (n00 + n10) * math.log(0.95)
        - xln(n01 + n11, pi) - xln(n00 + n10, 1 - pi)
    )
    r = x567_christoffersen(spark, SF).collect()[0]
    assert (r["n00"], r["n01"], r["n10"], r["n11"]) == (
        n00, n01, n10, n11,
    )
    assert abs(r["viol_rate"] - _round_hu(pi, 6)) < 1e-9
    assert abs(r["cluster_gap"] - _round_hu(pi1 - pi0, 6)) < 1e-9
    assert abs(r["lr_unconditional"] - _round_hu(lr_uc, 4)) < 1e-6
    assert abs(r["lr_independence"] - _round_hu(lr_ind, 4)) < 1e-6
    assert abs(
        r["lr_conditional_coverage"] - _round_hu(lr_uc + lr_ind, 4)
    ) < 1e-6
    assert r["lr_independence"] >= -1e-9
    assert r["lr_unconditional"] >= -1e-9


def test_kpss_matches_replay(spark):
    """x568: replay partial sums and eta; invariants: final partial
    sum is exactly 0 (sum of centerings vanishes), eta > 0, flag
    consistent with the pinned critical value."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x568_kpss_test,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    n = len(daily)
    s = sum(daily.values())
    cv = {d: n * y - s for d, y in daily.items()}
    st = 0
    s2 = 0
    for d in sorted(cv):
        st += cv[d]
        s2 += st * st
    assert st == 0
    n0 = sum(v * v for v in cv.values())
    import datetime

    wsum = 0.0
    for k in range(1, 6):
        nk = sum(
            v * cv[d + datetime.timedelta(k)]
            for d, v in cv.items()
            if d + datetime.timedelta(k) in cv
        )
        wsum += (1.0 - k / 6.0) * nk
    lrv = max((n0 + 2.0 * wsum) / (n * n * n), 0.0)
    eta = s2 / (float(n) * n * n * n) / lrv
    r = x568_kpss_test(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["kpss_level"] - _round_hu(eta, 6)) < 1e-6
    assert r["reject_level_stationarity_5pct"] == (
        1 if eta > 0.463 else 0
    )
    assert r["kpss_level"] > 0


def test_curriculum_buckets_matches_bruteforce(spark):
    """x569: full Python replay of scoring, ranking and bucketing;
    invariants: buckets partition the corpus, avg_rare_ratio is
    nondecreasing easy->hard, token shares sum to ~1."""
    from collections import Counter

    from poc_parquet_publisher_spark.queries.extensions import (
        x569_curriculum_buckets,
    )

    docs = []
    corpus = Counter()
    for rr in load_table(spark, SF, "documents").collect():
        ws = [w for w in rr["text"].lower().split(" ") if w != ""]
        docs.append((rr["doc_id"], ws))
        corpus.update(ws)
    top = {
        w
        for w, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[
            :100
        ]
    }
    scored = []
    for doc_id, ws in docs:
        toks = len(ws)
        rare = sum(1 for w in ws if w not in top)
        chars = sum(len(w) for w in ws)
        scored.append(
            (
                _round_hu(rare / toks, 8),
                _round_hu(chars / toks, 8),
                doc_id,
                toks,
            )
        )
    scored.sort()
    n = len(scored)
    cut = [(k * n + 3) // 4 for k in (1, 2, 3)]
    buckets = {1: [], 2: [], 3: [], 4: []}
    for rn, row in enumerate(scored, 1):
        b = 1 if rn <= cut[0] else 2 if rn <= cut[1] else (
            3 if rn <= cut[2] else 4
        )
        buckets[b].append(row)
    all_toks = sum(t for *_, t in scored)
    rows = {
        r["bucket"]: r
        for r in x569_curriculum_buckets(spark, SF).collect()
    }
    assert len(rows) == 4
    import decimal

    prev = -1.0
    share_sum = 0.0
    for b in range(1, 5):
        grp = buckets[b]
        assert rows[b]["n_docs"] == len(grp)
        arr = float(
            sum(decimal.Decimal(repr(rr)) for rr, *_ in grp)
        ) / len(grp)
        awl = float(
            sum(decimal.Decimal(repr(wl)) for _, wl, *_ in grp)
        ) / len(grp)
        assert abs(rows[b]["avg_rare_ratio"] - _round_hu(arr, 6)) < 1e-6
        assert abs(rows[b]["avg_word_len"] - _round_hu(awl, 6)) < 1e-6
        ts = sum(t for *_, t in grp) / all_toks
        assert abs(rows[b]["token_share"] - _round_hu(ts, 6)) < 1e-6
        assert rows[b]["avg_rare_ratio"] >= prev
        prev = rows[b]["avg_rare_ratio"]
        share_sum += rows[b]["token_share"]
    assert sum(r["n_docs"] for r in rows.values()) == n
    assert abs(share_sum - 1.0) < 1e-4


def test_shard_balance_matches_replay(spark):
    """x570: replay the md5 shard assignment and the chi-square;
    invariants: chi2 >= 0, imbalance >= 1, df = 7*(sources-1)."""
    import hashlib
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x570_shard_balance,
    )

    cells = defaultdict(lambda: [0, 0])
    shard_tk = defaultdict(int)
    sources = set()
    for rr in load_table(spark, SF, "documents").collect():
        h = hashlib.md5(f"{rr['doc_id']}:shuffle".encode()).hexdigest()
        shard = int(h[:8], 16) % 8
        toks = len(rr["text"].lower().split(" "))
        cells[(shard, rr["source"])][0] += 1
        cells[(shard, rr["source"])][1] += toks
        shard_tk[shard] += toks
        sources.add(rr["source"])
    n = sum(v[0] for v in cells.values())
    row_n = defaultdict(int)
    col_n = defaultdict(int)
    for (sh, src), (o, _) in cells.items():
        row_n[sh] += o
        col_n[src] += o
    chi2 = 0.0
    n_cells = 0
    for sh in range(8):
        for src in sources:
            e = _round_hu(row_n[sh] * col_n[src] / n, 8)
            o = cells.get((sh, src), [0, 0])[0]
            chi2 += _round_hu((o - e) ** 2 / e, 6)
            n_cells += 1
    imb = max(shard_tk.values()) / min(shard_tk.values())
    r = x570_shard_balance(spark, SF).collect()[0]
    assert r["n_shards"] == 8
    assert r["cells"] == n_cells
    assert abs(r["chi2_homogeneity"] - _round_hu(chi2, 4)) < 1e-6
    assert r["df"] == 7 * (len(sources) - 1)
    assert abs(
        r["token_imbalance_ratio"] - _round_hu(imb, 6)
    ) < 1e-9
    assert r["chi2_homogeneity"] >= 0
    assert r["token_imbalance_ratio"] >= 1.0


def test_bartels_rvn_matches_replay(spark):
    """x571: replay midranks and RVN; invariants: RVN in (0,4),
    sign(z) = sign(RVN - 2)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x571_bartels_rvn,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    vals = sorted(daily.values())
    from bisect import bisect_left, bisect_right

    def mr2(v):
        return bisect_left(vals, v) + bisect_right(vals, v) + 1

    n = len(daily)
    import datetime

    num4 = 0
    n_pairs = 0
    for d, y in daily.items():
        nd = d + datetime.timedelta(1)
        if nd in daily:
            num4 += (mr2(daily[nd]) - mr2(y)) ** 2
            n_pairs += 1
    den4 = sum((mr2(y) - (n + 1)) ** 2 for y in daily.values())
    rvn = num4 / den4
    var = (
        4.0 * (n - 2) * (5.0 * n * n - 2.0 * n - 9.0)
        / (5.0 * n * (n + 1.0) * (n - 1.0) * (n - 1.0))
    )
    z = (rvn - 2.0) / math.sqrt(var)
    r = x571_bartels_rvn(spark, SF).collect()[0]
    assert (r["n_days"], r["n_pairs"]) == (n, n_pairs)
    assert abs(r["rvn"] - _round_hu(rvn, 6)) < 1e-9
    assert abs(r["bartels_z"] - _round_hu(z, 4)) < 1e-6
    assert 0.0 < r["rvn"] < 4.0
    assert (r["bartels_z"] >= 0) == (rvn >= 2.0)


def test_record_counts_matches_bruteforce(spark):
    """x572: walk the day-ordered series in Python; invariants: the
    first day is both an upper and lower record, counts >= 1, and
    E[records] = H_n."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x572_record_counts,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    up = dn = 0
    mx = mn = None
    for d in sorted(daily):
        y = daily[d]
        if mx is None or y > mx:
            up += 1
            mx = max(mx, y) if mx is not None else y
        mx = max(mx, y)
        if mn is None or y < mn:
            dn += 1
            mn = min(mn, y) if mn is not None else y
        mn = min(mn, y)
    n = len(daily)
    hn = sum(_round_hu(1.0 / k, 14) for k in range(1, n + 1))
    h2n = sum(_round_hu(1.0 / (float(k) * k), 14) for k in range(1, n + 1))
    sd = math.sqrt(hn - h2n)
    r = x572_record_counts(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert (r["rec_up"], r["rec_dn"]) == (up, dn)
    assert abs(r["e_records"] - _round_hu(hn, 6)) < 1e-6
    assert abs(r["z_up"] - _round_hu((up - hn) / sd, 4)) < 1e-6
    assert abs(r["z_dn"] - _round_hu((dn - hn) / sd, 4)) < 1e-6
    assert r["rec_up"] >= 1 and r["rec_dn"] >= 1


def test_pettitt_matches_bruteforce(spark):
    """x573: brute-force the O(n^2) sign double-sum at sf0.001 and
    compare K, the change day and the p approximation; invariants:
    p in (0, 2], 1 <= change_t < n."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x573_pettitt_test,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    best_k = -1
    best_day = None
    best_t = None
    ut = 0
    # O(n^2) incremental: U_t = U_{t-1} + sum_j sgn(x_t - x_j)... use
    # direct double sum per t (n ~ 1100 at sf0.001, fine).
    for t in range(1, n):
        u = sum(
            (0 if ys[j] == ys[i] else (1 if ys[j] > ys[i] else -1))
            for i in range(t)
            for j in range(t, n)
        )
        if abs(u) > best_k:
            best_k = abs(u)
            best_day = days[t - 1]
            best_t = t
    p = 2.0 * math.exp(
        -6.0 * best_k * best_k / (float(n) ** 3 + float(n) ** 2)
    )
    r = x573_pettitt_test(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["pettitt_k"] == best_k
    assert r["change_day"] == best_day
    assert r["change_t"] == best_t
    assert abs(r["p_approx"] - _round_hu(p, 8)) < 1e-9
    assert 0.0 < r["p_approx"] <= 2.0
    assert 1 <= r["change_t"] < n


def test_anderson_darling_2s_matches_replay(spark):
    """x574: replay the Scholz-Stephens midrank A2 and the exact
    small-sample variance (harmonics included); invariants:
    A2 > 0, sigma > 0."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x574_anderson_darling_2s,
    )

    daily = defaultdict(int)
    grp = {}
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
        grp[d] = 1 if d.isoweekday() in (6, 7) else 2
    from collections import Counter

    f1 = Counter(daily[d] for d in daily if grp[d] == 1)
    f2 = Counter(daily[d] for d in daily if grp[d] == 2)
    vals = sorted(set(daily.values()))
    n1, n2 = sum(f1.values()), sum(f2.values())
    n = n1 + n2
    bb = c1b = c2b = 0
    s1 = s2 = 0.0
    for v in vals:
        g1, g2 = f1.get(v, 0), f2.get(v, 0)
        l = g1 + g2
        b4 = 4 * bb + 2 * l
        den4 = 4 * n * b4 - b4 * b4 - 4 * n * l
        m41 = 4 * c1b + 2 * g1
        m42 = 4 * c2b + 2 * g2
        s1 += _round_hu(l * float(n * m41 - n1 * b4) ** 2 / den4, 8)
        s2 += _round_hu(l * float(n * m42 - n2 * b4) ** 2 / den4, 8)
        bb += l
        c1b += g1
        c2b += g2
    a2 = (n - 1.0) / (float(n) * n) * (s1 / n1 + s2 / n2)
    hts = []
    acc = 0.0
    for t in range(1, n + 1):
        acc += _round_hu(1.0 / t, 14)
        hts.append(acc)
    h = hts[n - 2]
    g = sum(
        _round_hu((1.0 / j) * (h - hts[n - j - 1]), 14)
        for j in range(2, n)
    )
    hcap = 1.0 / n1 + 1.0 / n2
    a = (4.0 * g - 6.0) * (2.0 - 1.0) + (10.0 - 6.0 * g) * hcap
    b = (
        (2.0 * g - 4.0) * 4.0
        + 8.0 * h * 2.0
        + (2.0 * g - 14.0 * h - 4.0) * hcap
        - 8.0 * h
        + 4.0 * g
        - 6.0
    )
    c = (
        (6.0 * h + 2.0 * g - 2.0) * 4.0
        + (4.0 * h - 4.0 * g + 6.0) * 2.0
        + (2.0 * h - 6.0) * hcap
        + 4.0 * h
    )
    d = (2.0 * h + 6.0) * 4.0 - 4.0 * h * 2.0
    var = (a * float(n) ** 3 + b * float(n) ** 2 + c * n + d) / (
        (n - 1.0) * (n - 2.0) * (n - 3.0)
    )
    r = x574_anderson_darling_2s(spark, SF).collect()[0]
    assert (r["n_weekend"], r["n_weekday"]) == (n1, n2)
    assert abs(r["ad2_a2"] - _round_hu(a2, 6)) < 1e-6
    assert abs(r["sigma_a2"] - _round_hu(math.sqrt(var), 6)) < 1e-6
    assert abs(
        r["ad2_t"] - _round_hu((a2 - 1.0) / math.sqrt(var), 4)
    ) < 1e-4
    assert r["ad2_a2"] > 0
    assert r["sigma_a2"] > 0


def test_ngram_overlap_curve_matches_bruteforce(spark):
    """x575: rebuild the 5 containment points in Python; invariants:
    containment nonincreasing in n, all in [0,1]."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x575_ngram_overlap_curve,
    )

    docs = [
        (rr["doc_id"], rr["text"].lower().split(" "))
        for rr in load_table(spark, SF, "documents").collect()
    ]
    mn = min(d for d, _ in docs)
    mx = max(d for d, _ in docs)
    rows = {
        r["ngram_size"]: r
        for r in x575_ngram_overlap_curve(spark, SF).collect()
    }
    assert len(rows) == 5
    prev = 2.0
    for n in range(1, 6):
        early, late = set(), set()
        for did, ws in docs:
            if len(ws) < n:
                continue
            grams = {
                " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)
            }
            (early if did * 2 <= mn + mx else late).update(grams)
        seen = len(late & early)
        r = rows[n]
        assert r["n_grams_late"] == len(late)
        assert r["n_seen_early"] == seen
        assert abs(
            r["containment"] - _round_hu(seen / len(late), 6)
        ) < 1e-9
        assert 0.0 <= r["containment"] <= 1.0
        assert r["containment"] <= prev + 1e-9
        prev = r["containment"]


def test_seasonal_mann_kendall_matches_bruteforce(spark):
    """x576: brute-force every same-weekday day pair; invariants:
    var18 > 0, |S| <= total pair count, z sign = S sign."""
    from collections import Counter, defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x576_seasonal_mann_kendall,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    strata = defaultdict(list)
    for d in sorted(daily):
        strata[d.isoweekday() - 1].append(daily[d])
    s = 0
    var18 = 0
    total_pairs = 0
    for wd, ys in strata.items():
        nw = len(ys)
        total_pairs += nw * (nw - 1) // 2
        for i in range(nw):
            for j in range(i + 1, nw):
                s += (ys[j] > ys[i]) - (ys[j] < ys[i])
        var18 += nw * (nw - 1) * (2 * nw + 5)
        for t in Counter(ys).values():
            var18 -= t * (t - 1) * (2 * t + 5)
    var_s = var18 / 18.0
    z = (
        (s - 1.0) / math.sqrt(var_s)
        if s > 0
        else ((s + 1.0) / math.sqrt(var_s) if s < 0 else 0.0)
    )
    r = x576_seasonal_mann_kendall(spark, SF).collect()[0]
    assert r["n_days"] == len(daily)
    assert r["s_stat"] == s
    assert r["var18"] == var18
    assert abs(r["smk_z"] - _round_hu(z, 4)) < 1e-6
    assert r["var18"] > 0
    assert abs(r["s_stat"]) <= total_pairs
    assert (r["smk_z"] >= 0) == (s >= 0)


def test_length_bias_audit_matches_bruteforce(spark):
    """x577: full Python replay of trigram repetition, decile
    bucketing and the length-repetition correlation; invariants:
    deciles partition the corpus, avg_toks nondecreasing,
    corr in [-1,1]."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x577_length_bias_audit,
    )

    per = []
    for rr in load_table(spark, SF, "documents").collect():
        ws = rr["text"].lower().split(" ")
        toks = len(ws)
        if toks < 3:
            rep = 0.0
        else:
            tris = [" ".join(ws[i:i + 3]) for i in range(toks - 2)]
            rep = 1.0 - len(set(tris)) / (toks - 2)
        per.append((toks, rr["doc_id"], _round_hu(rep, 8)))
    per.sort()
    n = len(per)
    import decimal

    st = sum(t for t, _, _ in per)
    stt = sum(t * t for t, _, _ in per)
    sr = float(sum(decimal.Decimal(repr(r)) for _, _, r in per))
    srr = float(
        sum(decimal.Decimal(repr(_round_hu(r * r, 16))) for _, _, r in per)
    )
    strx = float(
        sum(
            decimal.Decimal(repr(_round_hu(t * r, 8)))
            for t, _, r in per
        )
    )
    corr = (n * strx - st * sr) / math.sqrt(
        (n * stt - st * st) * (n * srr - sr * sr)
    )
    rows = {
        r["decile"]: r for r in x577_length_bias_audit(spark, SF).collect()
    }
    assert len(rows) == 10
    prev = -1.0
    covered = 0
    for k in range(1, 11):
        grp = [
            per[rn - 1]
            for rn in range(1, n + 1)
            if ((rn - 1) * 10) // n + 1 == k
        ]
        r = rows[k]
        assert r["n_docs"] == len(grp)
        covered += r["n_docs"]
        at = sum(t for t, _, _ in grp) / len(grp)
        ar = float(
            sum(decimal.Decimal(repr(rr)) for _, _, rr in grp)
        ) / len(grp)
        assert abs(r["avg_toks"] - _round_hu(at, 4)) < 1e-6
        assert abs(r["avg_repetition"] - _round_hu(ar, 6)) < 1e-6
        assert abs(r["corr_len_rep"] - _round_hu(corr, 6)) < 1e-6
        assert r["avg_toks"] >= prev
        prev = r["avg_toks"]
    assert covered == n
    assert -1.0 <= rows[1]["corr_len_rep"] <= 1.0


def test_foster_stuart_matches_replay(spark):
    """x579: walk the day-ordered series in Python from t=2; the D and
    S statistics and both z's must match, and the mutual-exclusion
    invariant U_t * L_t = 0 holds per step by construction."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x579_foster_stuart,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    u = l = 0
    mx = mn = ys[0]
    for t in range(1, n):
        y = ys[t]
        if y > mx:
            u += 1
        if y < mn:
            l += 1
        mx = max(mx, y)
        mn = min(mn, y)
    vd = sum(_round_hu(2.0 / float(k), 14) for k in range(2, n + 1))
    vs = sum(
        _round_hu((2.0 / float(k)) * (1.0 - 2.0 / float(k)), 14)
        for k in range(2, n + 1)
    )
    r = x579_foster_stuart(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert (r["rec_up"], r["rec_dn"]) == (u, l)
    assert r["d_stat"] == u - l
    assert r["s_stat"] == u + l
    assert abs(r["z_d"] - _round_hu((u - l) / math.sqrt(vd), 4)) < 1e-6
    assert (
        abs(r["z_s"] - _round_hu((u + l - vd) / math.sqrt(vs), 4))
        < 1e-6
    )
    # S >= |D| always; Var(S) < Var(D) always (vs = vd - sum 4/t^2)
    assert r["s_stat"] >= abs(r["d_stat"])
    assert vs < vd


def test_ipw_stratified_ate_matches_replay(spark):
    """x580: recompute the stratified and naive ATEs from raw lineitem
    rows; the IPW/stratified algebraic identity is the design claim,
    so replay the IPW sum form and assert it lands on the entry's
    stratified column."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x580_ipw_stratified_ate,
    )

    agg = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, n1, n0, sum1, sum0
    for rr in load_table(spark, SF, "lineitem").collect():
        s = rr["l_returnflag"]
        t = 1 if rr["l_discount"] >= 0.05 else 0
        y = int(rr["l_quantity"])
        a = agg[s]
        a[0] += 1
        if t:
            a[1] += 1
            a[3] += y
        else:
            a[2] += 1
            a[4] += y
    pos = {s: a for s, a in agg.items() if a[1] > 0 and a[2] > 0}
    n = sum(a[0] for a in pos.values())
    # IPW sum form: (1/n) sum_s [sum1_s / p_s - sum0_s / (1 - p_s)]
    ipw = sum(
        a[3] / (a[1] / a[0]) - a[4] / (a[2] / a[0])
        for a in pos.values()
    ) / n
    strat = sum(
        _round_hu((a[0] / n) * (a[3] / a[1] - a[4] / a[2]), 10)
        for a in pos.values()
    )
    naive = sum(a[3] for a in pos.values()) / sum(
        a[1] for a in pos.values()
    ) - sum(a[4] for a in pos.values()) / sum(
        a[2] for a in pos.values()
    )
    rows = x580_ipw_stratified_ate(spark, SF).collect()
    assert len(rows) == len(pos)
    r0 = rows[0]
    assert abs(r0["ate_stratified"] - _round_hu(strat, 4)) < 1e-9
    # the algebraic collapse: IPW with exact stratum propensities IS
    # the stratified estimator (up to the contrib rounding)
    assert abs(ipw - strat) < 1e-4
    assert abs(r0["ate_naive"] - _round_hu(naive, 6)) < 1e-6
    for r in rows:
        a = pos[r["stratum"]]
        assert (r["n_s"], r["n1"], r["n0"]) == (a[0], a[1], a[2])
        assert abs(r["ate_s"] - _round_hu(a[3] / a[1] - a[4] / a[2], 4)) < 1e-9


def test_mantel_matches_replay(spark):
    """x581: brute-force the upper-triangle pair moments at sf0.001
    (~1100 days -> ~600k pairs, integer arithmetic exact in Python)."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x581_mantel_test,
    )

    daily = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        daily[d] += int(math.floor(rr["o_totalprice"] * 100.0))
    days = sorted(daily)
    n = len(days)
    m = sx = sy = sxx = syy = sxy = 0
    for i in range(n):
        yi, di = daily[days[i]], days[i]
        for j in range(i + 1, n):
            dx = abs(daily[days[j]] - yi)
            dy = (days[j] - di).days
            m += 1
            sx += dx
            sy += dy
            sxx += dx * dx
            syy += dy * dy
            sxy += dx * dy
    num = m * sxy - sx * sy
    den = math.sqrt(float(m * sxx - sx * sx) * float(m * syy - sy * sy))
    mr = num / den
    r = x581_mantel_test(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["m_pairs"] == m == n * (n - 1) // 2
    assert abs(r["mantel_r"] - _round_hu(mr, 6)) < 1e-9
    assert (
        abs(
            r["mantel_t_naive"]
            - _round_hu(mr * math.sqrt((m - 2.0) / (1.0 - mr * mr)), 4)
        )
        < 1e-6
    )
    assert -1.0 < r["mantel_r"] < 1.0


def test_tetrachoric_matches_replay(spark):
    """x582: recount the 2x2 from raw documents and replay the Edwards
    cos approximation plus Yule's Q/Y; invariants: |Y| <= |Q| (Y is
    the tetrachoric-consistent shrink of Q) and r_tet between them in
    magnitude order r_tet ~ Y-ish, all bounded by 1."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x582_tetrachoric,
    )

    a = b = c = d = 0
    for rr in load_table(spark, SF, "documents").collect():
        hd = 1 if rr["n_chars"] >= 500 else 0
        en = 1 if rr["lang"] == "en" else 0
        if hd and en:
            a += 1
        elif hd:
            b += 1
        elif en:
            c += 1
        else:
            d += 1
    odds = (a * d) / (b * c)
    q = (odds - 1.0) / (odds + 1.0)
    y = (math.sqrt(odds) - 1.0) / (math.sqrt(odds) + 1.0)
    rt = math.cos(math.pi / (1.0 + math.sqrt(odds)))
    r = x582_tetrachoric(spark, SF).collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (a, b, c, d)
    assert abs(r["odds_ratio"] - _round_hu(odds, 6)) < 1e-9
    assert abs(r["yule_q"] - _round_hu(q, 6)) < 1e-9
    assert abs(r["yule_y"] - _round_hu(y, 6)) < 1e-9
    # quantized cos: allow 1 integer step of libm slack at the floor
    assert abs(r["r_tet_q8"] - math.floor(rt * 1e8)) <= 1
    assert abs(y) <= abs(q)
    assert abs(r["r_tet_q8"]) <= 10**8


def test_holt_winters_weekly_matches_replay(spark):
    """x583: run the period-52 additive HW recursion in pure Python
    (same dyadic weights, same classical init) and compare SSEs,
    final level/trend and the seasonal-naive baseline."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x583_holt_winters_weekly,
    )

    import datetime as _dt

    weekly = defaultdict(int)
    for rr in load_table(spark, SF, "orders").collect():
        d = rr["o_orderdate"].date()
        wk = d - _dt.timedelta(days=d.weekday())
        weekly[wk] += int(math.floor(rr["o_totalprice"] * 100.0))
    ys = [float(weekly[w]) for w in sorted(weekly)]
    n = len(ys)
    assert n >= 105, "fixture must span >= 105 present weeks"
    s1 = int(sum(ys[:52]))
    s2 = int(sum(ys[52:104]))
    level = s1 / 52.0
    b = (s2 / 52.0 - s1 / 52.0) / 52.0
    season = [y - level for y in ys[:52]]
    sh = 0.0
    for t in range(52, n):
        y = ys[t]
        sidx = season[0]
        f = level + b + sidx
        sh += (y - f) * (y - f)
        lnew = 0.5 * (y - sidx) + 0.5 * (level + b)
        b = 0.5 * (lnew - level) + 0.5 * b
        season = season[1:] + [0.5 * (y - lnew) + 0.5 * sidx]
        level = lnew
    sn = sum(
        (int(ys[t]) - int(ys[t - 52])) ** 2 for t in range(52, n)
    )
    r = x583_holt_winters_weekly(spark, SF).collect()[0]
    assert r["n_weeks"] == n
    assert abs(r["sse_hw_dollars2"] - _round_hu(sh / 1e4, 4)) < 1e-4
    assert r["sse_snaive_dollars2"] == _round_hu(sn / 1e4, 4)
    assert (
        abs(r["skill_vs_seasonal_naive"] - _round_hu(1.0 - sh / sn, 6))
        < 1e-6
    )
    assert abs(r["final_level_dollars"] - _round_hu(level / 100.0, 4)) < 1e-4
    assert abs(r["final_trend_dollars"] - _round_hu(b / 100.0, 4)) < 1e-4


def test_dedup_gain_curve_matches_datasheet(spark):
    """x578 vs x120: the gain curve's docs_dropped summed over sizes
    must equal the datasheet's n_near_losses, its cluster count must
    equal n_clusters, and every cluster size is >= 2 (singletons never
    enter the pair graph)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x120_dedup_datasheet,
        x578_dedup_gain_curve,
    )

    curve = x578_dedup_gain_curve(spark, SF).collect()
    sheet = x120_dedup_datasheet(spark, SF).collect()[0]
    assert sum(r["n_clusters"] for r in curve) == sheet["n_clusters"]
    assert (
        sum(r["docs_dropped"] for r in curve) == sheet["n_near_losses"]
    )
    for r in curve:
        assert r["cluster_size"] >= 2
        assert r["docs_dropped"] == (r["cluster_size"] - 1) * r["n_clusters"]
        assert r["tokens_saved"] > 0
        assert 0.0 < r["corpus_token_share"] < 1.0


def test_mnn_blocked_recall_vs_exact_alignment(spark, emb):
    """The IVF-blocked MNN tier (similarity.mnn_align_blocked — the
    routing target x333's contract names for 100 TB) vs the exact
    registered x333: every blocked pair's cosine must be exact, the
    candidate block join must see far fewer than |A|x|B| pairs, and
    recall of the exact mutual pairs must clear the probe gate."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x333_mnn_alignment,
    )

    exact = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in x333_mnn_alignment(spark, SF).collect()
    }
    a_side = emb.filter(F.col("label") < 5)
    b_side = emb.filter(F.col("label") >= 5)
    blocked_rows = similarity.mnn_align_blocked(
        a_side, b_side, n_centroids=8, n_probe=4
    ).collect()
    blocked = {(r["a_id"], r["b_id"]): r["cos"] for r in blocked_rows}
    assert exact, "fixture must produce mutual pairs"
    # exact cosine on every surviving pair (approximation lives in the
    # candidate set only); blocked top-1 may differ where the true
    # neighbor's block was not probed, so compare on the overlap
    hits = set(blocked) & set(exact)
    for pair in hits:
        assert blocked[pair] == pytest.approx(exact[pair], abs=2e-4)
    recall = len(hits) / len(exact)
    # measured 0.80 at (8 centroids, 4 probes) with the side-salted
    # quantizer sample -- gate at the band's floor, not a loose 0.6
    # that a silent regression could hide under
    assert recall >= 0.75, f"recall {recall:.2f} under the probe gate"
    # structural invariants: mutual top-1 gives at most one pair per
    # a_id (and per b_id), never an empty alignment on this fixture
    assert len(blocked) <= min(a_side.count(), b_side.count())
    assert len(blocked) >= 1
    assert len({a for a, _ in blocked}) == len(blocked)
    assert len({b for _, b in blocked}) == len(blocked)


def test_duplicate_clusters_matches_union_find_on_random_graphs(spark):
    """Differential test for the dedup core (x24/x23/x115/x120/x578 all
    compose it): on random small pair graphs, min-label propagation
    must produce EXACTLY the connected components a pure-Python
    union-find computes -- including chain graphs deeper than the
    star-like shapes the fixture near-dups form (the convergence-loop
    shape the fixture never exercises)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    node = st.integers(min_value=0, max_value=14)
    edge = st.tuples(node, node)
    graph = st.lists(edge, min_size=1, max_size=20)

    def reference(edges):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(graph)
    def run(edges):
        # drop self-loops the way the pair generators do (id_a < id_b)
        pairs_py = [(min(a, b), max(a, b)) for a, b in edges if a != b]
        if not pairs_py:
            return
        df = spark.createDataFrame(pairs_py, "id_a long, id_b long")
        got = {
            r["node"]: r["rep"]
            for r in dedup.duplicate_clusters(df).collect()
        }
        assert got == reference(pairs_py), (pairs_py, got)

    run()


def test_mnn_blocked_deterministic_and_never_cartesian(spark, emb):
    """mnn_align_blocked's 100 TB contract: (a) output is IDENTICAL
    under different input partitionings (the quantizer trains on an
    md5-keyed TakeOrdered sample, immune to partition order; every
    downstream step is an equi-join or a keyed window), and (b) the
    plan contains no CartesianProduct -- candidates come from the
    block equi-join only."""
    a_side = emb.filter(F.col("label") < 5)
    b_side = emb.filter(F.col("label") >= 5)
    out1 = similarity.mnn_align_blocked(
        a_side, b_side, n_centroids=8, n_probe=3
    )
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows1 = [tuple(r) for r in out1.collect()]
    rows2 = [
        tuple(r)
        for r in similarity.mnn_align_blocked(
            a_side.repartition(7), b_side.repartition(3),
            n_centroids=8, n_probe=3,
        ).collect()
    ]
    assert rows1 == rows2
    assert rows1


def test_mnn_blocked_deterministic_with_shared_ids(spark, emb):
    """The round-9 advice's counterexample: two independently-keyed
    corpora whose id spaces COLLIDE (here both sides reindexed to
    1..n). A bare md5(id) sample key would tie across sides with
    different vectors, making the quantizer's TakeOrdered training
    sample partition-order dependent; the side-salted key
    (md5('a:'||id) vs md5('b:'||id)) must keep the output identical
    under different input partitionings even with fully shared ids."""
    from pyspark.sql.window import Window

    w = Window.orderBy("vec_id")
    a_side = (
        emb.filter(F.col("label") < 5)
        .select("vec_id", "embedding")
        .withColumn("vec_id", F.row_number().over(w).cast("long"))
    )
    b_side = (
        emb.filter(F.col("label") >= 5)
        .select("vec_id", "embedding")
        .withColumn("vec_id", F.row_number().over(w).cast("long"))
    )
    # the collision is real: the id sets overlap almost entirely
    n_shared = a_side.join(b_side, "vec_id", "left_semi").count()
    assert n_shared >= min(a_side.count(), b_side.count()) - 1
    rows1 = [
        tuple(r)
        for r in similarity.mnn_align_blocked(
            a_side, b_side, n_centroids=8, n_probe=3
        ).collect()
    ]
    rows2 = [
        tuple(r)
        for r in similarity.mnn_align_blocked(
            a_side.repartition(11), b_side.repartition(5),
            n_centroids=8, n_probe=3,
        ).collect()
    ]
    assert rows1 == rows2
    assert rows1


def test_mnn_blocked_probe_overflow_clamps_to_full_scan(spark, emb):
    """n_probe > n_centroids must not die with an executor-side numpy
    length mismatch: the probe count clamps to the centroid count,
    which makes the candidate set the FULL block product -- so the
    result must equal the exact x333 alignment pair-for-pair."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x333_mnn_alignment,
    )

    exact = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in x333_mnn_alignment(spark, SF).collect()
    }
    a_side = emb.filter(F.col("label") < 5)
    b_side = emb.filter(F.col("label") >= 5)
    rows = similarity.mnn_align_blocked(
        a_side, b_side, n_centroids=4, n_probe=16
    ).collect()
    got = {(r["a_id"], r["b_id"]): r["cos"] for r in rows}
    assert set(got) == set(exact)
    for pair, cos in got.items():
        assert cos == pytest.approx(exact[pair], abs=2e-4)


def test_x583_guard_fails_loudly_on_short_series(spark, tmp_path):
    """The stated precondition (>= 105 present weeks) must fail LOUDLY
    AND IDENTICALLY on both engines: before the round-10 guard, the
    Spark form threw an opaque slice error while the DuckDB oracle
    silently returned zero rows."""
    import duckdb
    import pandas as pd

    from poc_parquet_publisher_spark.queries import REGISTRY
    from poc_parquet_publisher_spark.queries.extensions import (  # noqa: F401
        timeseries as _ts,
    )

    days = pd.date_range("1995-01-02", periods=350, freq="D")  # 50 weeks
    pd.DataFrame(
        {
            "o_orderkey": range(len(days)),
            "o_custkey": [1] * len(days),
            "o_orderstatus": ["F"] * len(days),
            "o_totalprice": [100.0 + i for i in range(len(days))],
            "o_orderdate": days,
            "o_orderpriority": ["1-URGENT"] * len(days),
        }
    ).to_parquet(tmp_path / "orders.parquet")

    spec = REGISTRY["x583_holt_winters_weekly"]
    with pytest.raises(Exception, match="105"):
        spec.spark(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{tmp_path}/orders.parquet')"
    )
    with pytest.raises(Exception, match="105"):
        con.execute(spec.oracle).fetchall()


def test_mnn_blocked_planted_correspondence_recall_with_schedule(spark):
    """The tier's scale contract on the workload it exists for: planted
    true correspondences (b = a under ~2% deterministic directional
    jitter, cos ~0.978 -- far above the fixture's ~0.5 max-of-noise
    ceiling, the shape real aligned corpora have) recovered with the
    DERIVED ivf_params_for schedule. The scale probe measured 0.999 /
    0.982 / 0.952 at sf0.1/0.3/1.0 (SCALE_PROBE.json, exponent 0.30 vs
    exact x333's 1.26); gate this sf0.1-sized point at the cross-scale
    floor."""
    from poc_parquet_publisher_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    off = 10**9
    a = emb.select("vec_id", "embedding")
    b = emb.select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, d) -> cast(x * (1.0 + 0.3 "
            "* sin(vec_id * 97 + d * 131)) as float))"
        ).alias("embedding"),
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in similarity.mnn_align_blocked(a, b).collect()
    }
    planted = sum(1 for x, y in pairs if y - off == x)
    assert planted / n >= 0.95, f"planted recall {planted / n:.3f}"
    # derived schedule really engaged (not the 8-centroid floor) --
    # asserted STRUCTURALLY (round-10 advice): the constant-block-
    # population formula at the fixture's own count, not a literal
    # (62, 4) that breaks if the fixture is regenerated a few rows
    # larger without any code regression
    derived = similarity.ivf_params_for(2 * n)
    assert derived == (max(8, (2 * n) // 64), 4)
    assert derived[0] > 8, "fixture too small to engage the schedule"


def test_ivf_schedule_crosses_flat_cap_structurally():
    """ivf_params_for's two regimes (round-10 verdict task #1): below
    the flat cap, constant block population at n_probe=4; above it,
    the count keeps growing (hierarchical tier engages in
    mnn_align_blocked) and n_probe grows +2 per block-count doubling
    (the measured recall price of smaller cells). Capped only at
    max_centroids^2, where a third level would take over."""
    # flat regime: population-constant count, fixed probes
    assert similarity.ivf_params_for(10) == (8, 4)  # floor
    assert similarity.ivf_params_for(4096) == (64, 4)
    assert similarity.ivf_params_for(65536) == (1024, 4)  # last flat
    # hierarchical regime: count uncapped, probes grow by 2/doubling
    assert similarity.ivf_params_for(65664) == (1026, 6)
    assert similarity.ivf_params_for(160000) == (2500, 8)
    assert similarity.ivf_params_for(64 * 4096) == (4096, 8)
    assert similarity.ivf_params_for(64 * 8192) == (8192, 10)
    # the max_centroids^2 ceiling (third-level territory)
    huge = similarity.ivf_params_for(2 * 64 * 1024 * 1024)
    assert huge[0] == 1024 * 1024


def test_mnn_blocked_hierarchical_tier_recall_and_determinism(spark):
    """The two-level quantizer tier (n_centroids past the 1024 flat
    cap): planted correspondences must be recovered at >= 0.95 and
    the output must be IDENTICAL under different input partitionings
    (level-1 sample is md5-TakeOrdered; level-2 per-cell fits sort by
    the same md5 key inside applyInPandas; assignment is pure numpy
    over broadcast centers). The full-scale boundary crossing is
    probed in SCALE_PROBE.json's mnn_align_blocked_xcap row; this
    pins the tier's mechanics at fixture size."""
    from poc_parquet_publisher_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    off = 10**9
    a = emb.select("vec_id", "embedding")
    b = emb.select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, d) -> cast(x * (1.0 + 0.3 "
            "* sin(vec_id * 97 + d * 131)) as float))"
        ).alias("embedding"),
    )
    out = similarity.mnn_align_blocked(
        a, b, n_centroids=1100, n_probe=6
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows1 = [tuple(r) for r in out.collect()]
    pairs = {(r[0], r[1]) for r in rows1}
    planted = sum(1 for x, y in pairs if y - off == x)
    assert planted / n >= 0.95, f"hier planted recall {planted / n:.3f}"
    rows2 = [
        tuple(r)
        for r in similarity.mnn_align_blocked(
            a.repartition(7), b.repartition(3),
            n_centroids=1100, n_probe=6,
        ).collect()
    ]
    assert rows1 == rows2
    assert rows1


def test_fit_hier_centroids_shapes_padding_and_determinism(spark, emb):
    """_fit_hier_centroids' structural contract: (T, d) + (T, S, d)
    with T = ceil(sqrt(n_total)), S = ceil(n_total/T), every row
    L2-normalized; sub-centroid slots a thin cell's sample cannot fill
    are padded with that cell's (normalized) TOP center, so assignment
    stays total and deterministic; the whole fit is partition-order
    invariant (md5-keyed samples at both levels)."""
    union = emb.select(
        F.col("vec_id").cast("string").alias("__side_id"), "embedding"
    )
    n_total = 60  # T = 8, S = 8 -- small enough that thin cells pad
    top, sub = similarity._fit_hier_centroids(
        union, "__side_id", "embedding", n_total, seed=42, max_iter=8
    )
    assert top.shape == (8, 64)
    assert sub.shape == (8, 8, 64)
    assert np.allclose(np.linalg.norm(top, axis=1), 1.0)
    assert np.allclose(np.linalg.norm(sub, axis=2), 1.0)
    top2, sub2 = similarity._fit_hier_centroids(
        union.repartition(7),
        "__side_id",
        "embedding",
        n_total,
        seed=42,
        max_iter=8,
    )
    assert np.array_equal(top, top2)
    assert np.array_equal(sub, sub2)


def test_quantizer_sample_and_block_ceiling_guards(spark, emb):
    """Round-11 advice: both quantizer tiers fail loudly instead of
    silently degrading. (a) The flat fit raises when the corpus YIELDS
    fewer sample rows than centroids -- a user-pinned n_centroids on a
    small table previously passed the cap guard (n_centroids*4 <=
    max_train) yet still duplicated linspace centers. (b) The two-level
    fit raises past max_centroids^2 total blocks (third-level
    territory) rather than clamping T and S and letting block
    populations grow unnoticed."""
    import pytest

    tiny = emb.limit(10).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="rows the corpus yielded"):
        similarity._fit_centroids_on_sample(
            tiny, "vec_id", "embedding", 100, seed=42, max_iter=2
        )
    with pytest.raises(ValueError, match="third level"):
        similarity._fit_hier_centroids(
            tiny.select(
                F.col("vec_id").cast("string").alias("__side_id"),
                "embedding",
            ),
            "__side_id",
            "embedding",
            1024 * 1024 + 1,
            seed=42,
            max_iter=2,
        )


def test_mnn_blocked_derived_params_run_one_count_job(spark, emb, monkeypatch):
    """Round-10 verdict task #4: deriving (n_centroids, n_probe) must
    cost ONE count() job over the A-union-B frame the quantizer trains
    on anyway -- not one per side (on derived/cached lineage each
    count is a full materialization)."""
    a_side = emb.filter(F.col("label") < 5)
    b_side = emb.filter(F.col("label") >= 5)
    calls: list[int] = []
    # patch the CONCRETE class (Spark 4's classic DataFrame overrides
    # the public pyspark.sql.DataFrame API class's count)
    df_cls = type(a_side)
    orig = df_cls.count

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(df_cls, "count", counting)
    # building the plan (no action on the result) runs only the
    # derivation count + the bounded quantizer-sample collect
    similarity.mnn_align_blocked(a_side, b_side)
    assert len(calls) == 1, f"expected 1 derivation count, got {len(calls)}"


def _degenerate_compare(spark, tmp_path, entry_name):
    """Run a registry entry AND its DuckDB oracle over the synthetic
    tables in tmp_path and return the harness compare dict."""
    from poc_parquet_publisher_spark import queries as qmod
    from tests.oracle_harness import compare, duckdb_connection

    qmod.all_queries()  # force lazy registration
    spec = qmod.REGISTRY[entry_name]
    con = duckdb_connection(str(tmp_path))
    try:
        return compare(spec.spark(spark, str(tmp_path)), con, spec.oracle)
    finally:
        con.close()


@pytest.fixture()
def steep_trend_lineitem(tmp_path):
    """A lineitem whose fitted linear return-rate trend ESCAPES (0,1):
    bands s = 0..10 with 10 rows each, return rate jumping 0 -> 1 at
    s = 5. The closed-form fit is pbar = 6/11, slope = 3/22, so
    p_hat(0) = -0.136 and p_hat(10) = +1.227 -- both clamp branches of
    the b3a3400 guard actually execute (the driver fixture never
    leaves (0,1), so until now the clamps were dead code under test)."""
    import pandas as pd

    rows = [
        {
            "l_discount": s / 100.0,
            "l_returnflag": "R" if s >= 5 else "N",
        }
        for s in range(11)
        for _ in range(10)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "lineitem.parquet")
    return tmp_path


def test_x553_clamp_branch_cross_engine_identical(
    spark, steep_trend_lineitem
):
    """x553's p_hat clamp into (1e-6, 1-1e-6) must fire AND keep both
    engines identical inside the clamped branch (the hash gate cannot
    see a divergence the fixture never reaches)."""
    out = _degenerate_compare(
        spark, steep_trend_lineitem, "x553_hosmer_lemeshow"
    )
    assert out["match"], out
    from poc_parquet_publisher_spark import queries as qmod

    qmod.all_queries()
    rows = {
        r["band"]: r
        for r in qmod.REGISTRY["x553_hosmer_lemeshow"]
        .spark(spark, str(steep_trend_lineitem))
        .collect()
    }
    # clamp floor at band 0: expected count = 1e-6 * 10 rounds to 0.0
    assert rows[0]["expected"] == pytest.approx(0.0, abs=1e-4)
    # clamp ceiling at band 10: expected ~= n_g (p_hat = 1 - 1e-6)
    assert rows[10]["expected"] == pytest.approx(10.0, abs=1e-4)
    # every statistic stays finite inside the clamped branch
    import math

    for r in rows.values():
        assert math.isfinite(r["hl_term"]) and math.isfinite(r["hl_chi2"])


def test_x564_clamp_branch_cross_engine_identical(
    spark, steep_trend_lineitem
):
    """Same degenerate fit through x564's z-score denominator
    p(1-p): without the clamp this is non-positive at both ends."""
    out = _degenerate_compare(
        spark, steep_trend_lineitem, "x564_spiegelhalter_z"
    )
    assert out["match"], out


def test_x568_lrv_floor_cross_engine_identical(spark, tmp_path):
    """A CONSTANT daily revenue series drives x568's Bartlett long-run
    variance to exactly 0; the 1e-12 floor must keep eta a declared
    finite value (0/1e-12 = 0) IDENTICALLY on both engines instead of
    an incidental 0/0 NaN-vs-NULL divergence."""
    import math

    import pandas as pd

    days = pd.date_range("1997-01-01", periods=40, freq="D")
    pd.DataFrame(
        {
            "o_orderdate": days,
            "o_totalprice": [1000.0] * len(days),
        }
    ).to_parquet(tmp_path / "orders.parquet")
    out = _degenerate_compare(spark, tmp_path, "x568_kpss_test")
    assert out["match"], out
    from poc_parquet_publisher_spark import queries as qmod

    row = (
        qmod.REGISTRY["x568_kpss_test"]
        .spark(spark, str(tmp_path))
        .collect()[0]
    )
    stats = [v for v in row.asDict().values() if isinstance(v, float)]
    assert stats and all(math.isfinite(v) for v in stats), row


@pytest.mark.parametrize("only", ["view", "purchase"])
def test_x251_one_sided_groups(spark, tmp_path, only):
    """events holding only views (every cogroup group lacks purchases)
    or only purchases (every group lacks views, so every purchase is
    blind): exact rows from a pure-Python replay, and the DuckDB oracle
    agrees."""
    from collections import Counter

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from poc_parquet_publisher_spark import queries as qmod

    ev = pq.read_table(f"{SF}/events.parquet")
    ev = ev.filter(pc.equal(ev["event_type"], only))
    pq.write_table(ev, tmp_path / "events.parquet")
    per_user = Counter(ev["user_id"].to_pylist())
    if only == "view":
        want = [(0, len(per_user), 0, ev.num_rows)]
    else:
        by_n = Counter(per_user.values())
        want = [(k, by_n[k], k * by_n[k], 0) for k in sorted(by_n)]

    qmod.all_queries()
    got = qmod.REGISTRY["x251_cogroup_reconcile"].spark(spark, str(tmp_path))
    assert [tuple(r) for r in got.collect()] == want
    out = _degenerate_compare(spark, tmp_path, "x251_cogroup_reconcile")
    assert out["match"], out
