"""Similarity search over an embedding column (array<float>).

Two tiers, per SURVEY.md section 2.4:

- ``brute_force_topk`` / ``cosine_neardup_pairs``: exact cosine. One side
  (queries, or the self-join'd corpus snapshot) is broadcast as a dense
  numpy matrix; the other side streams through ``mapInPandas`` in Arrow
  batches and scores against it with a single BLAS matmul per batch. This
  is the textbook block-nested-loop: the streaming side never shuffles,
  work is embarrassingly parallel across partitions, and per-batch partial
  top-k keeps the final merge tiny (the TakeOrderedAndProject pattern).
  The broadcast side must fit in executor memory -- the same contract as
  any broadcast join; beyond that, use the LSH tier.
- ``lsh_topk`` / ``ivf_topk`` / ``lsh_neardup_pairs``: the 100 TB path.
  Signatures / centroid assignments are a narrow numpy map over the
  corpus; candidate generation is an equi-join on (band, signature) or
  centroid buckets, so the corpus is hash-partitioned by bucket instead
  of cross-joined; SCORING attaches corpus vectors to the candidate
  pairs with another equi-join -- the corpus is never collected to the
  driver, only the (small-by-contract) query matrix rides a broadcast.
  Recall is tuned by (n_planes, n_bands) / (n_centroids, n_probe).

Why Pandas UDFs here and nowhere else: Spark has no built-in dense dot
product; a zip_with/aggregate fold is JVM codegen but allocates a 64-elem
array per pair (measured 33 s for 2M pairs at sf0.1); the Arrow/numpy path
does the same work as one matmul per batch (sub-second). This is exactly
the "built-ins genuinely can't express it efficiently" carve-out.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _normalized_matrix(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize (ids, row-normalized float64 matrix) for the broadcast
    side of a block-nested-loop. Bounded by the broadcast-join contract:
    callers pass the SMALL side (queries, or a corpus snapshot that fits
    in executor memory)."""
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        return ids, np.zeros((0, 0), dtype=np.float64)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms


def _empty_result(df: DataFrame, schema: str) -> DataFrame:
    return df.sparkSession.createDataFrame([], schema)


def _score_candidates_against_queries(
    cand: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
) -> DataFrame:
    """Exact-cosine score candidate ``(q_id, c_id)`` pairs.

    Scale shape: corpus vectors are attached to the candidates with an
    equi-join on ``c_id`` (distributed; AQE broadcasts whichever side is
    small at runtime) -- the corpus is NEVER collected to the driver.
    Only the query matrix, the small side by the same contract as any
    broadcast join, is broadcast. Every ``q_id`` must come from the
    ``queries`` frame that produced ``(q_ids, q_mat)`` -- candidate
    generators guarantee this by construction, so no corpus-membership
    assumption is made about queries.
    """
    spark = corpus.sparkSession
    q_index = {int(i): r for r, i in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((q_index, q_mat))
    with_vec = cand.join(
        corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("__vec")
        ),
        "c_id",
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qidx, qm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            qi = pdf["q_id"].map(qidx).to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = np.einsum("ij,ij->i", qm[qi], c_mat / norms)
            yield pd.DataFrame(
                {
                    "query_id": pdf["q_id"],
                    "neighbor_id": pdf["c_id"],
                    "sim_raw": sims,
                }
            )

    return with_vec.select("q_id", "c_id", "__vec").mapInPandas(
        score, schema="query_id long, neighbor_id long, sim_raw double"
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("sim_raw", 4).alias("sim"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, sim).

    Queries are broadcast; each corpus Arrow batch emits only its partial
    top-k per query, so the shuffle into the final ranking carries
    O(k * n_batches * n_queries) rows, not |corpus| * |queries|.
    """
    spark = corpus.sparkSession
    q_ids, q_mat = _normalized_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_result(
            corpus, "query_id long, neighbor_id long, rank long, sim double"
        )
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_norms[c_norms == 0.0] = 1.0
            sims = (c_mat / c_norms) @ mat_q.T  # |batch| x |queries|
            out_q, out_c, out_s = [], [], []
            for j in range(len(ids_q)):
                col = sims[:, j]
                mask = c_ids != ids_q[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                # partial top-k within this batch (final ranking later);
                # lexsort keys = (neighbor_id asc, sim desc) with sim
                # primary, matching the global (sim desc, id) order so a
                # boundary tie is never dropped differently than the
                # final window would rank it
                order = np.lexsort((c_ids[cand_idx], -col[cand_idx]))
                part = cand_idx[order[:take]]
                out_q.extend([ids_q[j]] * take)
                out_c.extend(c_ids[part])
                out_s.extend(col[part])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_c, "sim_raw": out_s}
            )

    partial = corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("sim_raw", 4).alias("sim"),
        )
    )


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs (id_a < id_b) with round(cosine, 4) >= threshold.

    Exact tier: the corpus snapshot is broadcast once and every Arrow
    batch scores against it with one matmul (block-nested-loop). The
    threshold filter applies inside the batch, so only qualifying pairs
    ever leave Python. Scale tier: ``lsh_neardup_pairs`` (banded
    candidates, no broadcast of the corpus, sub-quadratic).
    """
    spark = df.sparkSession
    ids, mat = _normalized_matrix(df, "vec_id", "embedding")
    if len(ids) == 0:
        return _empty_result(df, "id_a long, id_b long, sim double")
    bc = spark.sparkContext.broadcast((ids, mat))

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            b_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            b_norms = np.linalg.norm(b_mat, axis=1, keepdims=True)
            b_norms[b_norms == 0.0] = 1.0
            sims = np.round((b_mat / b_norms) @ all_mat.T, 4)
            # id_a < id_b keeps each unordered pair exactly once
            lt = b_ids[:, None] < all_ids[None, :]
            hit = (sims >= threshold) & lt
            bi, ai = np.nonzero(hit)
            yield pd.DataFrame(
                {
                    "id_a": b_ids[bi],
                    "id_b": all_ids[ai],
                    "sim": sims[bi, ai],
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        score, schema="id_a long, id_b long, sim double"
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-Gaussian hyperplanes from md5 (reproducible
    across sessions and task retries, unlike rand())."""
    planes = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"42:{p}:{d}".encode()).digest()
            u1 = (int.from_bytes(h[:8], "big") + 1) / (2**64 + 2)
            u2 = (int.from_bytes(h[8:], "big") + 1) / (2**64 + 2)
            planes[p, d] = math.sqrt(-2 * math.log(u1)) * math.cos(
                2 * math.pi * u2
            )
    return planes


def lsh_signature(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
) -> DataFrame:
    """Random-hyperplane signature: (id, sig bitstring of n_planes chars).
    One numpy matmul per Arrow batch -- a narrow map, no shuffle."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(_hyperplanes(dim, n_planes))

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T) >= 0
            sigs = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.select(id_col, vec_col).mapInPandas(
        sig, schema=f"{id_col} long, sig string"
    )


MAX_TRAIN = 4096


def _fit_centroids_on_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int,
    max_iter: int,
) -> np.ndarray:
    """Deterministic Lloyd k-means on a bounded, key-hashed sample.

    The FAISS posture: a coarse quantizer is TRAINED on a sample (here
    the ``MAX_TRAIN`` smallest md5(id) rows -- a TakeOrdered, one pass,
    no full shuffle, stable under retries/partitioning) and only
    ASSIGNMENT touches the full corpus. Replaces a pyspark.ml fit whose
    ``max_iter`` passes over all rows are pure overhead for rough
    Voronoi cells -- recall comes from n_probe, not fit quality.

    Fails LOUDLY past the trainable cap (>= 4 sample rows per
    centroid): a linspace init over fewer rows than centroids silently
    duplicates centers and the flat fit degrades to junk cells --
    callers at that scale must route to ``_fit_hier_centroids`` (as
    ``mnn_align_blocked`` does past ``_FLAT_CENTROID_CAP``).
    """
    if n_centroids * 4 > MAX_TRAIN:
        raise ValueError(
            f"flat quantizer cannot train {n_centroids} centroids from "
            f"a {MAX_TRAIN}-row sample (>= 4 rows/centroid needed); "
            "use the two-level _fit_hier_centroids tier"
        )
    sample = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("__r"), vec_col
        )
        .orderBy("__r")
        .limit(MAX_TRAIN)
        .collect()
    )
    mat = np.stack([np.asarray(r[vec_col]) for r in sample]).astype(
        np.float64
    )
    # the pre-collect guard bounds n_centroids against the sample CAP;
    # this one bounds it against the sample the corpus actually yielded
    # -- a user-pinned n_centroids on a table with fewer rows would
    # otherwise hit the same silent linspace center duplication
    if len(mat) < n_centroids:
        raise ValueError(
            f"flat quantizer cannot train {n_centroids} centroids from "
            f"the {len(mat)} rows the corpus yielded (linspace init "
            "would duplicate centers); lower n_centroids or let "
            "ivf_params_for derive it from the corpus count"
        )
    # deterministic init: evenly spaced rows of the (hash-shuffled)
    # sample; the Lloyd loop itself is shared with the per-cell
    # level-2 fits (_fit_hier_centroids)
    return _lloyd(mat, n_centroids, max_iter)


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-flat approximate top-k: coarse k-means quantizer + probed scan.

    The scale shape: the quantizer trains on a bounded sample
    (``_fit_centroids_on_sample``), corpus vectors are assigned to their
    nearest centroid in ONE narrow mapInPandas pass with the tiny
    centroid matrix broadcast (at 100 TB this assignment is written
    alongside the embeddings and reused), each query probes only its
    4 nearest centroids, and candidates come from an equi-join
    on centroid id -- the corpus is hash-partitioned by cluster,
    scanning ~n_probe/n_centroids of it per query instead of all of it.
    Scoring is the same candidate->vector equi-join as lsh_topk, so like
    LSH this approximates the CANDIDATE SET only.
    """
    spark = corpus.sparkSession
    raw_centers = _fit_centroids_on_sample(
        corpus, "vec_id", "embedding", 16, 42, 8
    )
    bc_centers = spark.sparkContext.broadcast(raw_centers)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_centers.value
        c_sq = (c**2).sum(axis=1)[None, :]
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (m**2).sum(axis=1, keepdims=True) - 2.0 * (m @ c.T) + c_sq
            yield pd.DataFrame(
                {
                    "c_id": pdf["vec_id"],
                    "centroid": d2.argmin(axis=1).astype(np.int32),
                }
            )

    assigned = corpus.select("vec_id", "embedding").mapInPandas(
        assign, schema="c_id long, centroid int"
    )

    c_norms = np.linalg.norm(raw_centers, axis=1, keepdims=True)
    c_norms[c_norms == 0.0] = 1.0
    centers = raw_centers / c_norms

    q_ids, q_mat = _normalized_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_result(
            corpus, "query_id long, neighbor_id long, rank long, sim double"
        )
    # per-query probe list: n_probe nearest centroids by cosine
    probe_idx = np.argsort(-(q_mat @ centers.T), axis=1)[:, :4]
    probes = spark.createDataFrame(
        [
            (int(qid), int(c))
            for qid, row in zip(q_ids, probe_idx)
            for c in row
        ],
        "q_id long, centroid int",
    )

    cand = (
        F.broadcast(probes)
        .join(assigned, "centroid")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )

    scored = _score_candidates_against_queries(
        cand, corpus, "vec_id", "embedding", q_ids, q_mat
    )
    return _ranked_topk(scored, 3)


LSH_TOPK_BANDS = 4
LSH_TOPK_PLANES = 16


def lsh_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-k: candidates share >= 1 LSH band, scored exactly.

    Candidate generation is an equi-join on (band_idx : band_bits) -- the
    corpus is hash-partitioned by bucket, never cross-joined. Scoring
    attaches candidate vectors with an equi-join back to the corpus and
    broadcasts only the query matrix (exact cosine, numpy per Arrow
    batch). Raising n_bands raises recall; n_planes shrinks buckets.
    """
    band_w = LSH_TOPK_PLANES // LSH_TOPK_BANDS

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        s = lsh_signature(df, "vec_id", "embedding", 64, LSH_TOPK_PLANES)
        return s.select(
            F.col("vec_id").alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"{i}:"),
                            F.substring("sig", i * band_w + 1, band_w),
                        )
                        for i in range(LSH_TOPK_BANDS)
                    ]
                )
            ).alias("band"),
        )

    cand = (
        banded(queries, "q_id")
        .join(banded(corpus, "c_id"), "band")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )

    q_ids, q_mat = _normalized_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_result(
            corpus, "query_id long, neighbor_id long, rank long, sim double"
        )
    scored = _score_candidates_against_queries(
        cand, corpus, "vec_id", "embedding", q_ids, q_mat
    )
    return _ranked_topk(scored, 3)


#: Largest centroid count the FLAT quantizer can train (>= 4 rows per
#: centroid from ``_fit_centroids_on_sample``'s 4096-row sample); past
#: it the blocked tiers route to the two-level quantizer below.
_FLAT_CENTROID_CAP = 1024


def ivf_params_for(n: int) -> tuple[int, int]:
    """Deployment schedule for the IVF-blocked tiers' (n_centroids,
    n_probe) -- the x28 playbook (lsh_params_for) applied to IVF.

    Holding the EXPECTED BLOCK POPULATION constant (n_centroids ~
    n / block_target) keeps the candidate equi-join LINEAR in corpus
    size: candidates ~ n_probe * block_target * n, vs the quadratic
    n_probe * n^2 / n_centroids a fixed centroid count degrades to.
    Recall survives the shrinking probed FRACTION because the pairs
    these tiers exist for (mutual top-1 / near neighbors) are
    geometrically CLOSE -- close vectors co-probe their shared Voronoi
    cell with high probability, and n_probe > 1 covers cell-boundary
    splits; the blocked-MNN gate measures this at every probed scale.
    Centroid assignment is n * n_centroids * dim of dense BLAS flops --
    the cheap term at any probe-able scale.

    The returned count is NOT capped at ``_FLAT_CENTROID_CAP``: past it
    (n > max_centroids * block_target, ~65k vectors) a flat quantizer
    can no longer train (>= 4 rows per centroid from a 4096-row
    sample), so ``mnn_align_blocked`` routes to the TWO-LEVEL
    hierarchical quantizer (``_fit_hier_centroids``: T = ceil(sqrt(n_c))
    top cells, S = ceil(n_c / T) sub-centroids per cell, both <=
    max_centroids) which keeps the constant-block-population invariant
    to max_centroids^2 blocks (~67M vectors at block_target 64). The
    cap here is max_centroids^2, past which a deployment adds a third
    level rather than growing per-stage samples.

    Past the flat cap ``n_probe`` also grows by 2 per DOUBLING of the
    block count -- the measured recall price of more, smaller Voronoi
    cells (planted block-recall at fixed n_probe=4 decays 0.952 ->
    0.901 -> 0.884 over 625 -> 1250 -> 2500 blocks; +2 probes per
    doubling restores 0.980 / 0.972 -- the xcap sweep). Candidates
    stay n_probe * block_target * n = O(n log n), the quasi-linear
    toll every sub-quadratic ANN pays to hold recall as cells shrink.
    """
    cap = _FLAT_CENTROID_CAP
    n_centroids = int(min(cap * cap, max(8, n // 64)))
    n_probe = 4
    if n_centroids > cap:
        n_probe += 2 * math.ceil(math.log2(n_centroids / cap))
    return n_centroids, min(n_probe, n_centroids)


def _lloyd(mat: np.ndarray, k: int, max_iter: int) -> np.ndarray:
    """Deterministic Lloyd k-means: init = evenly spaced rows of the
    (caller-ordered) matrix, empty clusters keep their center. Shared
    by the flat sample fit (driver-side) and the per-cell level-2 fits
    (executor-side via applyInPandas)."""
    init_idx = np.linspace(0, len(mat) - 1, k).astype(np.int64)
    centers = mat[init_idx].copy()
    for _ in range(max_iter):
        d2 = (
            (mat**2).sum(axis=1, keepdims=True)
            - 2.0 * (mat @ centers.T)
            + (centers**2).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        # vectorized per-cluster mean (the per-cluster mask loop cost
        # ~5 s at k=625 -- the flat tier's whole fit budget). np.add.at
        # scatters rows in ascending index order: deterministic for a
        # given sample, same rough Voronoi cells (recall comes from
        # n_probe, not ulp-level center positions).
        sums = np.zeros((k, mat.shape[1]))
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=k)
        new = np.where(
            counts[:, None] > 0,
            sums / np.maximum(counts, 1)[:, None],
            centers,
        )
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def _fit_hier_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_total: int,
    seed: int,
    max_iter: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Two-level coarse quantizer for block counts past the flat
    trainable cap -- the scale route ``ivf_params_for``'s schedule
    prescribes (reference parity: the blocked tiers exist to serve
    x333's 100 TB contract; the reference itself has no ANN surface).

    Level 1 reuses the flat sample fit for T = ceil(sqrt(n_total)) top
    cells. Level 2 fits S = ceil(n_total / T) sub-centroids INSIDE
    each cell with the same deterministic Lloyd, EXECUTOR-side via
    ``applyInPandas`` over a per-cell sample (the ``per_cell_cap``
    smallest-md5 rows of each cell -- a keyed window, one shuffle by
    cell, no driver collect of corpus rows). Both T and S stay <=
    ``_FLAT_CENTROID_CAP``, so each stage trains on >= 4 rows per centroid
    exactly like the flat tier; total blocks reach max_centroids^2
    before a third level would be needed. The only driver materializa-
    tion is the (T x S x dim) centroid table itself -- the same object
    that must ride the assignment broadcast regardless (FAISS keeps
    its coarse quantizer in memory for the same reason).

    Returns ``(top_centers [T,d], sub_centers [T,S,d])``, rows
    L2-normalized for cosine assignment. Cells the SAMPLE leaves empty
    (level 1 trains on a bounded sample, so thin cells can miss it) or
    short keep their top center replicated in the unfilled slots --
    duplicate centers are inert: assignment tie-breaks by block index
    deterministically.
    """
    # mirror the flat tier's fail-loud posture: past _FLAT_CENTROID_CAP^2
    # blocks BOTH stages would need to exceed their trainable cap --
    # third-level territory per the docstring, not a silent clamp that
    # lets block populations grow unnoticed
    cap = _FLAT_CENTROID_CAP
    if n_total > cap * cap:
        raise ValueError(
            f"two-level quantizer cannot honor {n_total} blocks "
            f"(cap {cap}^2 = {cap * cap}); "
            "a deployment at that scale adds a third level rather than "
            "growing per-stage samples"
        )
    n_top = max(2, min(cap, int(math.ceil(math.sqrt(n_total)))))
    n_sub = max(1, min(cap, int(math.ceil(n_total / n_top))))
    top_raw = _fit_centroids_on_sample(
        corpus, id_col, vec_col, n_top, seed, max_iter
    )
    t_norms = np.linalg.norm(top_raw, axis=1, keepdims=True)
    t_norms[t_norms == 0.0] = 1.0
    top = top_raw / t_norms
    spark = corpus.sparkSession
    bc_top = spark.sparkContext.broadcast(top)

    def cell_of(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = bc_top.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            nm = np.linalg.norm(m, axis=1, keepdims=True)
            nm[nm == 0.0] = 1.0
            yield pd.DataFrame(
                {
                    "cell": ((m / nm) @ t.T)
                    .argmax(axis=1)
                    .astype(np.int32),
                    "__r": pdf["__r"],
                    "__v": pdf["__v"],
                }
            )

    per_cell_cap = int(min(4096, max(32, 8 * n_sub)))
    sampled = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("__r"),
            F.col(vec_col).alias("__v"),
        )
        # __v rides through as array<double>: a float32 declaration here
        # would silently downcast double-typed embedding columns for the
        # level-2 per-cell fits while level 1 trains at source precision
        # (fit_cell upcasts to float64 either way; the declaration keeps
        # what the source actually carried)
        .mapInPandas(
            cell_of, schema="cell int, __r string, __v array<double>"
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy("__r")
            ),
        )
        .filter(F.col("__rn") <= per_cell_cap)
        .select("cell", "__r", "__v")
    )

    def fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # applyInPandas hands groups in arbitrary row order; the md5
        # sort restores the same total order the flat fit trains under
        pdf = pdf.sort_values("__r")
        mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        k = min(n_sub, len(mat))
        centers = _lloyd(mat, k, max_iter)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])] * k,
                "sub": list(range(k)),
                "center": [centers[i].tolist() for i in range(k)],
            }
        )

    fitted = (
        sampled.groupBy("cell")
        .applyInPandas(
            fit_cell, schema="cell int, sub int, center array<double>"
        )
        .collect()
    )
    sub = np.tile(top[:, None, :], (1, n_sub, 1))
    for r in fitted:
        sub[r["cell"], r["sub"]] = np.asarray(r["center"])
    s_norms = np.linalg.norm(sub, axis=2, keepdims=True)
    s_norms[s_norms == 0.0] = 1.0
    return top, sub / s_norms


def lsh_params_for(
    n: int,
    threshold: float,
    target_recall: float = 0.9,
) -> tuple[int, int]:
    """Deployment schedule for ``lsh_neardup_pairs``' (n_planes, n_bands).

    Band width grows ~log2(n / target_bucket) so per-band bucket
    occupancy stays bounded as the corpus grows, then n_bands is
    re-solved for the recall target from the band collision
    probability p_band = p1^w, p1 = 1 - acos(threshold)/pi. This is
    the w ~ log n schedule behind the LSH exponent law (candidates ~
    n^(1+rho), rho = ln(1/p1)/ln 2): the round-8 scale probe measured
    x28's fixed fixture parameters at t ~ sf^1.63 vs the c=0.4
    theoretical optimum n^1.66 (BASELINE.md "Wave 2") -- the exponent
    is a property of the THRESHOLD; tightening to c=0.9 gives n^1.28
    under this schedule, and loose-threshold sweeps at scale should
    route to the IVF tier instead.
    """
    import math

    band_w = max(2, math.ceil(math.log2(max(2.0, n / 256))))
    p1 = 1.0 - math.acos(threshold) / math.pi
    p_band = p1 ** band_w
    n_bands = max(
        1,
        math.ceil(
            math.log(1.0 - target_recall) / math.log(1.0 - p_band)
        ),
    )
    return band_w * n_bands, n_bands


def lsh_neardup_pairs(
    df: DataFrame,
    n_planes: int = 16,
    n_bands: int = 8,
) -> DataFrame:
    """Scale-tier near-dup pairs: (id_a < id_b, round(cosine,4) >= thr).

    Fully distributed, sub-quadratic analog of ``cosine_neardup_pairs``
    (which stays the exact/oracle tier): candidate pairs come from a
    banded-signature SELF-join (pairs agreeing on >= 1 of n_bands bands),
    vectors are attached with two equi-joins back to the corpus, and the
    exact cosine + threshold filter runs per Arrow batch. Nothing is
    collected to the driver and no all-pairs product is ever formed.
    Recall is the LSH band guarantee: a pair at cosine c survives with
    p = 1-(1-p_band)^n_bands where p_band = (1 - acos(c)/pi)^band_width;
    raise n_bands (or lower n_planes) to push recall up.
    """
    band_w = n_planes // n_bands
    sig = lsh_signature(df, "vec_id", "embedding", 64, n_planes)
    bands = [
        F.concat(
            F.lit(f"{i}:"), F.substring("sig", i * band_w + 1, band_w)
        )
        for i in range(n_bands)
    ]
    banded = sig.select(
        F.col("vec_id").alias("id"), F.explode(F.array(*bands)).alias("band")
    ).localCheckpoint(eager=False)
    # ^ the banded signatures feed BOTH sides of the self-join: without
    # the checkpoint the Python (mapInPandas) signature stage runs twice
    # per query (same fix as the r12 simhash band join).
    cand = (
        banded.withColumnRenamed("id", "id_a")
        .join(banded.withColumnRenamed("id", "id_b"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = df.select(
        F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v")
    )
    pairs = cand.join(
        vecs.select(
            F.col("__vid").alias("id_a"), F.col("__v").alias("__vec_a")
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("__vid").alias("id_b"), F.col("__v").alias("__vec_b")
        ),
        "id_b",
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["__vec_a"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["__vec_b"].to_numpy()).astype(np.float64)
            na = np.linalg.norm(a, axis=1)
            na[na == 0.0] = 1.0
            nb = np.linalg.norm(b, axis=1)
            nb[nb == 0.0] = 1.0
            sims = np.round(np.einsum("ij,ij->i", a, b) / (na * nb), 4)
            out = pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "sim": sims}
            )
            yield out[out["sim"] >= 0.4]

    return pairs.select("id_a", "id_b", "__vec_a", "__vec_b").mapInPandas(
        score, schema="id_a long, id_b long, sim double"
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with a coarse k-means quantizer, then WITHIN each
    cluster drop every row whose cosine similarity to a lower-id row of
    the same cluster reaches ``threshold``. Trades recall (cross-cluster
    duplicates survive) for a corpus that is never compared all-pairs --
    exactly the published recipe for web-scale embedding dedup.

    Output: (id, centroid, keep) for every corpus row; survivors have
    ``keep = true``. Deterministic: the quantizer trains on a bounded
    key-hashed sample, ties in centroid assignment break to the lowest
    centroid index, similarities are rounded to 4 decimals before the
    threshold test, and the keep rule orders by id.

    Scale shape: assignment is ONE narrow mapInPandas pass with the tiny
    centroid matrix broadcast (vectors ride through the same pass, so no
    second join); the only shuffle is groupBy(centroid), and the in-
    cluster work is a |c| x |c| matmul -- the SemDeDup contract is that
    cluster sizes are bounded (scale n_centroids with the corpus; a
    pathologically hot cluster is the AQE-skew / re-cluster case, same
    as any blocked near-dup pass).
    """
    spark = corpus.sparkSession
    raw_centers = _fit_centroids_on_sample(
        corpus, "vec_id", "embedding", n_centroids, 42, 8
    )
    bc_centers = spark.sparkContext.broadcast(raw_centers)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_centers.value
        c_sq = (c**2).sum(axis=1)[None, :]
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (m**2).sum(axis=1, keepdims=True) - 2.0 * (m @ c.T) + c_sq
            yield pd.DataFrame(
                {
                    "id": pdf["vec_id"],
                    "centroid": d2.argmin(axis=1).astype(np.int32),
                    "vec": pdf["embedding"],
                }
            )

    assigned = corpus.select("vec_id", "embedding").mapInPandas(
        assign, schema="id long, centroid int, vec array<float>"
    )

    def dedup_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = np.round((mat / norms) @ (mat / norms).T, 4)
        dup = (np.tril(sims >= threshold, k=-1)).any(axis=1)
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "centroid": pdf["centroid"],
                "keep": ~dup,
            }
        )

    return assigned.groupBy("centroid").applyInPandas(
        dedup_group, schema="id long, centroid int, keep boolean"
    )


def mean_pool_embeddings(df: DataFrame, group_col: str) -> DataFrame:
    """Mean-pool vectors per group: the chunk->document pooling step of
    every embedding pipeline (per-chunk encoder outputs averaged into
    one document vector before indexing/dedup).

    Output: (group, n_vecs, pooled) where pooled[i] is the mean of
    component i across the group's vectors, DECIMAL-accumulated per
    component so the sum is independent of Spark's partition order,
    then rounded to 6 decimals.

    Scale shape: posexplode (linear, factor dim) -> ONE hash-groupBy on
    (group, pos) with partial aggregation -> regroup to arrays via
    sorted collect. Two shuffles total; component rows are (group, pos,
    decimal) -- narrow. The alternative (collect_list of whole vectors,
    fold in Python) ships full vectors through one unsplittable group.
    """
    # round components to 7 decimals BEFORE the decimal cast: a direct
    # float->decimal cast is engine-specific in the last digit, while
    # round(double, 7) of a float32-derived double is identical in both
    # (the x37/x52 recipe)
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double"), 7).cast(
                    "decimal(28,7)"
                ),
            )
        ).alias("pos", "val"),
    )
    # the SUM stays exact DECIMAL; the division happens in DOUBLE
    # (decimal-division result scales are engine-specific and truncate
    # differently, double division is correctly rounded in both)
    per_comp = exploded.groupBy("grp", "pos").agg(
        F.round(
            F.sum("val").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_val"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_comp.groupBy("grp")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_val"))
            ).alias("__pm"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_vecs",
            F.transform(F.col("__pm"), lambda s: s["mean_val"]).alias(
                "pooled"
            ),
        )
    )


def quantize_embeddings_int8(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization -- the 4x memory/IO
    reduction every large-scale ANN index applies before storing or
    shipping vectors (float32 -> int8 with one scale per vector).

    code_i = floor(v_i / (maxabs/127) + 0.5), so codes span [-127, 127]
    and dequantization is code * scale with max error scale/2. Every
    arithmetic step (abs, max, divide, floor) is an IEEE-exact or
    correctly-rounded double op, so a SQL oracle reproduces the codes
    BIT-IDENTICALLY -- no round() anywhere (Spark HALF_UP vs engine
    HALF_EVEN never triggers). The scale is emitted floor-scaled to an
    exact integer (scale_e7 = floor(scale * 1e7), x46's trick) and the
    codes string-serialized (q33/q41 precedent), so the entry is
    driver-window safe.

    Zero vectors (maxabs == 0) are EXCLUDED -- they have no scale and
    x63's norm audit exists to catch them upstream.

    Scale shape: a narrow per-row expression pipeline (transform /
    array_max HOFs, all JVM) -- no shuffle, no Python, scan speed.
    """
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_max = df.select(F.col("vec_id"), e.alias("__e")).withColumn(
        "__maxabs",
        F.array_max(F.transform(F.col("__e"), lambda x: F.abs(x))),
    ).filter(F.col("__maxabs") > 0)
    scale = F.col("__maxabs") / F.lit(127.0)
    return with_max.select(
        "vec_id",
        F.floor(scale * F.lit(10_000_000.0)).cast("long").alias(
            "scale_e7"
        ),
        F.array_join(
            F.transform(
                F.col("__e"),
                lambda x: F.floor(x / scale + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("codes"),
    )


def quantize_embeddings_int8_oracle_sql() -> str:
    """DuckDB SQL mirroring ``quantize_embeddings_int8`` exactly (same
    floor-based formula -- see the no-round() note there)."""
    return """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), m AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS maxabs
  FROM v
)
SELECT vec_id,
       CAST(FLOOR(maxabs / 127 * 10000000) AS BIGINT) AS scale_e7,
       array_to_string(list_transform(e, x ->
         CAST(CAST(FLOOR(x / (maxabs / 127) + 0.5) AS BIGINT)
              AS VARCHAR)), ',') AS codes
FROM m WHERE maxabs > 0 ORDER BY vec_id
"""


def label_centroid_coherence(df: DataFrame) -> DataFrame:
    """Per-label embedding coherence audit: cosine of every vector to
    its label's mean centroid, reported as (n_vecs, mean_cos, min_cos)
    per label. Low mean = an incoherent class (mislabeled feed); a low
    min pinpoints outlier rows worth manual review -- the embedding-space
    side of x55's referential DQ.

    Scale shape: centroids come from mean_pool_embeddings (posexplode +
    one (label,pos) partial-aggregating groupBy -- label cardinality is
    tiny so the centroid table broadcasts), then one broadcast join back
    and a row-local zip_with/aggregate dot-product fold (x63's recipe,
    no Python). Determinism: centroid components are round-6 doubles
    (x66), cosines round to 6 then accumulate in DECIMAL, division in
    DOUBLE (x37's recipe).
    """
    cent = mean_pool_embeddings(df, "label").select(
        F.col("label"), F.col("pooled")
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    c = F.col("pooled")
    dot = F.aggregate(
        F.zip_with(v, c, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nc = F.sqrt(
        F.aggregate(
            F.zip_with(c, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    den = nv * nc
    cos = F.when(den != 0, dot / den)
    scored = df.join(F.broadcast(cent), "label").select(
        F.col("label"),
        F.round(cos, 6).cast("decimal(18,6)").alias("cos6"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum("cos6").cast("double") / F.count("cos6"), 4
        ).alias("mean_cos"),
        F.round(F.min("cos6").cast("double"), 4).alias("min_cos"),
    )


def label_centroid_coherence_sql() -> str:
    """DuckDB SQL mirroring ``label_centroid_coherence`` (x66's pooling
    CTEs + x63's list_dot_product, same round-6-then-DECIMAL cosine)."""
    return """
WITH raw AS (
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
  SELECT lbl, list(mean_val ORDER BY pos) AS pooled
  FROM per GROUP BY lbl
), scored AS (
  SELECT s.label AS label,
         CAST(ROUND(
           list_dot_product(CAST(s.embedding AS DOUBLE[]), cent.pooled) /
           NULLIF(sqrt(list_dot_product(CAST(s.embedding AS DOUBLE[]),
                                        CAST(s.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(cent.pooled, cent.pooled)), 0),
           6) AS DECIMAL(18,6)) AS cos6
  FROM embeddings s JOIN cent ON s.label = cent.lbl
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(cos6) AS DOUBLE) / count(cos6), 4) AS mean_cos,
       ROUND(CAST(MIN(cos6) AS DOUBLE), 4) AS min_cos
FROM scored GROUP BY label ORDER BY label
"""


def pairwise_sims(
    stream_side: DataFrame,
    broadcast_side: DataFrame,
    vec_col: str = "embedding",
    stream_id_out: str = "b_id",
    broadcast_id_out: str = "a_id",
) -> DataFrame:
    """ALL pairwise cosine similarities between a streamed side and a
    broadcast side, rounded to 6 places: (broadcast_id, stream_id,
    sim). The dense-linear-algebra fast path -- one BLAS matmul per
    Arrow batch -- replacing a JVM zip_with/aggregate fold that pays
    per-element HOF evaluation on every pair (measured ~7x slower at
    1M x 64-dim). Bounded by the broadcast-join contract: callers pass
    the SMALL side as ``broadcast_side`` (x07's contract); output is
    |stream| x |broadcast| rows, so downstream must rank/aggregate,
    never collect. Rounding BEFORE any ranking keeps rank decisions
    off the last ulp (numpy pairwise summation vs a SQL oracle's
    sequential fold agree far inside round-6)."""
    spark = stream_side.sparkSession
    b_ids, b_mat = _normalized_matrix(broadcast_side, "vec_id", vec_col)
    if len(b_ids) == 0:
        return _empty_result(
            stream_side,
            f"{broadcast_id_out} long, {stream_id_out} long, sim double",
        )
    bc = spark.sparkContext.broadcast((b_ids, b_mat))

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            s_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            s_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s_norms = np.linalg.norm(s_mat, axis=1, keepdims=True)
            s_norms[s_norms == 0.0] = 1.0
            sims = np.round(
                (s_mat / s_norms) @ mat_b.T, 6
            )  # |batch| x |broadcast|
            n_s, n_b = sims.shape
            yield pd.DataFrame(
                {
                    broadcast_id_out: np.tile(ids_b, n_s),
                    stream_id_out: np.repeat(s_ids, n_b),
                    "sim": sims.ravel(),
                }
            )

    return stream_side.select("vec_id", vec_col).mapInPandas(
        score,
        schema=f"{broadcast_id_out} long, {stream_id_out} long, sim double",
    )


def mnn_align_blocked(
    a_side: DataFrame,
    b_side: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    csls_k: int = 4,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """The 100 TB tier of x333's mutual-nearest-neighbor alignment:
    both sides blocked by ONE shared IVF coarse quantizer, MNN + CSLS
    run inside the probed blocks.

    x333's registered (oracle-hashed) form scores the exact |A| x |B|
    product -- measured t ~ n^1.26 in the round-9 scale probe, the
    by-design quadratic correctness tier. This function is the
    routing target its contract names: the quantizer trains on a
    bounded sample of A UNION B (``_fit_centroids_on_sample``, the
    FAISS posture), every A vector emits its ``n_probe``
    nearest-centroid blocks and every B vector its home block in one
    narrow mapInPandas pass (the tiny centroid matrix is the only
    broadcast -- NEITHER side is ever collected), candidates come
    from the block equi-join, and exact cosine + per-side top-1 +
    the CSLS top-k margins are all computed over the candidate set
    (windows partitioned by vector id). Approximation is confined to
    the CANDIDATE SET, exactly like ``ivf_topk``: a true mutual pair
    is missed only if the pair's blocks never co-probe; recall rises
    with ``n_probe`` and is gated in tests against the exact x333
    result. Cosines round 6 BEFORE ranking with id tie-breaks
    (x333's determinism discipline).

    When ``n_centroids``/``n_probe`` are omitted they derive from the
    corpus count via ``ivf_params_for`` (constant block population =>
    linear candidate volume -- measured 2.4/2.7/4.0 s over the
    0.1-1.0 decade, overhead-dominated flat, vs x333's n^1.26;
    SCALE_PROBE.json, round-12 cells). Derivation costs ONE
    ``count()`` job over A UNION B -- metadata-only when both sides
    are raw parquet scans, one full lineage materialization when they
    are derived/uncached frames; pass explicit ``n_centroids``/
    ``n_probe`` to skip it in the latter case. Past the flat cap
    (derived n_centroids > 1024, i.e. ~65k vectors) the coarse
    quantizer is the two-level ``_fit_hier_centroids`` and block keys
    become (cell * n_sub + sub); the constant-block-population
    invariant -- and with it the linear candidate join -- then holds
    to ~67M vectors. Recall holds only for pairs whose similarity
    clears the corpus's max-of-noise ceiling -- the planted-
    correspondence gate measures 0.95+ across the decade at the
    derived schedule; pairs BELOW the ceiling (near-uniform data) are
    unrecoverable by any sub-quadratic method (SURVEY 4.4e).
    """
    from pyspark.sql.window import Window

    spark = a_side.sparkSession
    # The quantizer sample key is SALTED with a side tag: two
    # independently-keyed corpora may share id values, and a bare
    # md5(id) would then collide across sides with DIFFERENT vectors,
    # making the TakeOrdered tie-break partition-order dependent.
    # md5("a:"||id) vs md5("b:"||id) keeps the training sample
    # total-order stable whatever the two sides' key spaces are.
    union = a_side.select(
        F.concat(F.lit("a:"), F.col(id_col).cast("string")).alias(
            "__side_id"
        ),
        vec_col,
    ).unionByName(
        b_side.select(
            F.concat(F.lit("b:"), F.col(id_col).cast("string")).alias(
                "__side_id"
            ),
            vec_col,
        )
    )
    if n_centroids is None or n_probe is None:
        # the x28 lesson: FIXED parameters quietly turn a scale tier
        # quadratic -- by default derive (n_centroids, n_probe) from
        # the corpus count so block population stays constant and the
        # candidate join linear. ONE count job, over the same union
        # the quantizer trains on (was two per-side counts).
        derived_c, derived_p = ivf_params_for(union.count())
        n_centroids = derived_c if n_centroids is None else n_centroids
        n_probe = derived_p if n_probe is None else n_probe
    n_probe = min(n_probe, n_centroids)

    if n_centroids <= _FLAT_CENTROID_CAP:
        raw_centers = _fit_centroids_on_sample(
            union, "__side_id", vec_col, n_centroids, seed, max_iter
        )
        c_norms = np.linalg.norm(raw_centers, axis=1, keepdims=True)
        c_norms[c_norms == 0.0] = 1.0
        centers = raw_centers / c_norms
        bc = spark.sparkContext.broadcast(centers)

        def block_ids(
            df: DataFrame, out_id: str, out_vec: str, k: int
        ) -> DataFrame:
            """(id, centroid, vec) rows for each vector's k nearest
            centroids by cosine -- k=1 is the home block, k=n_probe
            the probe set. The ORIGINAL vector rides along so the
            candidate block join feeds the scorer directly: shuffle
            volume is k replicas of the side, partitioned by block --
            independent of the candidate-pair count (the round-11
            xcap diagnosis: reattaching vectors onto the pair frame
            by id cost two sort-merge joins over ~1 GB shuffles and
            GC-bound the sf4.0 point at 64 s vs this shape)."""
            # An argsort slice past the centroid count yields fewer
            # columns than np.repeat(ids, k) rows -- an opaque
            # executor-side length mismatch; probing every block is
            # the honest meaning of n_probe > n_centroids.
            k = min(k, centers.shape[0])

            def assign(
                it: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                c = bc.value
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    vecs = pdf[vec_col].to_numpy()
                    m = np.stack(vecs).astype(np.float64)
                    nm = np.linalg.norm(m, axis=1, keepdims=True)
                    nm[nm == 0.0] = 1.0
                    sims = (m / nm) @ c.T
                    top = np.argsort(-sims, axis=1)[:, :k]
                    ids = pdf[id_col].to_numpy()
                    yield pd.DataFrame(
                        {
                            out_id: np.repeat(ids, k),
                            "centroid": top.reshape(-1).astype(
                                np.int32
                            ),
                            out_vec: np.repeat(vecs, k),
                        }
                    )

            return df.select(id_col, vec_col).mapInPandas(
                assign,
                schema=(
                    f"{out_id} long, centroid int, "
                    f"{out_vec} array<double>"
                ),
            )

    else:
        # past the flat trainable cap: two-level quantizer. Block key
        # = cell * n_sub + sub (fits int32: <= 1024^2 blocks). Each
        # vector beam-searches its p nearest TOP cells, scores all
        # their sub-centroids, and keeps the k best (cell, sub) blocks
        # -- covering boundary splits at BOTH levels the way flat
        # n_probe covers them at one.
        hier_top, hier_sub = _fit_hier_centroids(
            union, "__side_id", vec_col, n_centroids, seed, max_iter
        )
        bc = spark.sparkContext.broadcast((hier_top, hier_sub))

        def block_ids(
            df: DataFrame, out_id: str, out_vec: str, k: int
        ) -> DataFrame:
            k = min(k, hier_top.shape[0] * hier_sub.shape[1])

            def assign(
                it: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                t, s = bc.value
                n_cells, s_per, d = s.shape
                # beam floor of 4 TOP cells even for the k=1 home
                # assignment: measured +0.03 planted recall at the
                # hier points vs a width-2 beam (the home block must
                # be found in the same search space the probe side
                # uses, or boundary pairs miss asymmetrically)
                p = min(n_cells, max(4, k))
                # bound the gathered [chunk, s_per, d] float64 slab to
                # ~64 MB per thread
                chunk = max(32, int(8_000_000 // max(1, s_per * d)))
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    ids_all = pdf[id_col].to_numpy()
                    vecs_all = pdf[vec_col].to_numpy()
                    m_all = np.stack(vecs_all).astype(np.float64)
                    nm = np.linalg.norm(m_all, axis=1, keepdims=True)
                    nm[nm == 0.0] = 1.0
                    m_all = m_all / nm
                    for lo in range(0, len(m_all), chunk):
                        m = m_all[lo : lo + chunk]
                        ids = ids_all[lo : lo + chunk]
                        cells = np.argsort(-(m @ t.T), axis=1)[:, :p]
                        cand = np.empty((len(m), p * s_per))
                        for j in range(p):
                            cand[:, j * s_per : (j + 1) * s_per] = (
                                np.einsum(
                                    "bd,bsd->bs", m, s[cells[:, j]]
                                )
                            )
                        order = np.argsort(-cand, axis=1)[:, :k]
                        cell_ids = np.take_along_axis(
                            cells, order // s_per, axis=1
                        )
                        block = cell_ids.astype(np.int64) * s_per + (
                            order % s_per
                        )
                        yield pd.DataFrame(
                            {
                                out_id: np.repeat(ids, k),
                                "centroid": block.reshape(-1).astype(
                                    np.int32
                                ),
                                out_vec: np.repeat(
                                    vecs_all[lo : lo + chunk], k
                                ),
                            }
                        )

            return df.select(id_col, vec_col).mapInPandas(
                assign,
                schema=(
                    f"{out_id} long, centroid int, "
                    f"{out_vec} array<double>"
                ),
            )

    # Candidate generation + scoring + in-block reduction in ONE
    # cogrouped pass by block (round-11 xcap diagnosis: the previous
    # shape -- distinct id-pairs, two sort-merge joins reattaching both
    # 512-byte vectors, a per-pair Python scorer, then two windows over
    # every candidate -- shuffled ~1 GB a side, Arrow-transferred both
    # vectors once PER PAIR (~20 GB at the 160k-union point), and went
    # GC-bound superlinear across the 80k -> 160k doubling). Here each
    # block's vectors ship exactly once -- shuffle volume is n_probe
    # replicas of A plus one replica of B, hash-partitioned by block,
    # independent of the candidate-pair count -- and the |A_blk| x
    # |B_blk| cosine matrix is one BLAS matmul (the x333 block-scorer
    # lesson applied per block).
    #
    # Two exactness facts make the in-block reduction safe:
    # - the b side emits exactly ONE home block per vector, so every
    #   (a_id, b_id) candidate arises in exactly one block (no distinct
    #   needed) and ALL of a given b's candidates are in that block --
    #   b-side ranks (rb) are block-local EXACT;
    # - a's candidates span its n_probe blocks, so a-side ranks need a
    #   cross-block window -- but only rows in some per-block a-top-K
    #   can make a's global top-K (top-K merge), so emitting each
    #   block's a-top-K plus the rb <= K rows preserves every rank
    #   <= K exactly: any kept extra row ranks strictly below a's true
    #   top-K in the window (were it above, it would BE top-K), and
    #   ra/rb beyond K feed nothing downstream (K = max(csls_k, 1)
    #   covers the mutual top-1 filter and both CSLS averages).
    keep_k = max(csls_k, 1)

    def score_block(a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "a_id": pd.Series(dtype="int64"),
                "b_id": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
                "rb": pd.Series(dtype="int32"),
            }
        )
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        # sort both sides by id so STABLE argsorts break cosine ties
        # by ascending id -- the same (cos desc, id asc) total order
        # the previous window ranking used
        a_pdf = a_pdf.sort_values("a_id")
        b_pdf = b_pdf.sort_values("b_id")
        a = np.stack(a_pdf["__va"].to_numpy())
        b = np.stack(b_pdf["__vb"].to_numpy())
        na = np.linalg.norm(a, axis=1)
        na[na == 0.0] = 1.0
        nb = np.linalg.norm(b, axis=1)
        nb[nb == 0.0] = 1.0
        s = np.round((a @ b.T) / np.outer(na, nb), 6)
        # rank matrices: argsort of a stable argsort of -s gives the
        # 1-based rank of each entry under (cos desc, id asc)
        a_rank = np.argsort(
            np.argsort(-s, axis=1, kind="stable"), axis=1
        ) + 1
        rb = np.argsort(
            np.argsort(-s, axis=0, kind="stable"), axis=0
        ) + 1
        keep = (a_rank <= keep_k) | (rb <= keep_k)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "a_id": a_pdf["a_id"].to_numpy()[ai],
                "b_id": b_pdf["b_id"].to_numpy()[bj],
                "cos": s[ai, bj],
                "rb": rb[ai, bj].astype(np.int32),
            }
        )

    scored = (
        block_ids(a_side, "a_id", "__va", n_probe)
        .groupBy("centroid")
        .cogroup(
            block_ids(b_side, "b_id", "__vb", 1).groupBy("centroid")
        )
        .applyInPandas(
            score_block,
            schema="a_id long, b_id long, cos double, rb int",
        )
    )

    # ONE linear plan: the a-side rank, both CSLS margins, and the
    # mutual filter are all window expressions over the kept rows --
    # no checkpoint, no joins. (The previous shape checkpointed a
    # `ranked` frame for three join-based consumers; in a long-lived
    # session each call left that localCheckpoint pinned until the
    # 30-min periodic-GC ContextCleaner pass, and the accumulated
    # blocks degraded repeated calls -- the round-12 xcap in-process
    # pass times went 20 -> 35 -> 71 s before this rewrite.) m_a
    # shares wa's partitioning (zero extra shuffle); m_b costs the one
    # shuffle by b_id that the old groupBy paid anyway. Both margin
    # averages aggregate over an ORDERED frame, so their float
    # summation order -- and with it bit-exact determinism under any
    # input partitioning -- is fixed by (cos desc, id) rather than by
    # arrival order.
    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos").desc(), F.col("b_id")
    )
    wa_all = wa.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wb_all = Window.partitionBy("b_id").orderBy(
        F.col("cos").desc(), F.col("a_id")
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        scored.select(
            "a_id",
            "b_id",
            "cos",
            "rb",
            F.row_number().over(wa).alias("ra"),
        )
        .select(
            "a_id",
            "b_id",
            "cos",
            "ra",
            "rb",
            F.avg(
                F.when(F.col("ra") <= csls_k, F.col("cos"))
            ).over(wa_all).alias("m_a"),
        )
        .select(
            "a_id",
            "b_id",
            "cos",
            "ra",
            "rb",
            "m_a",
            F.avg(
                F.when(F.col("rb") <= csls_k, F.col("cos"))
            ).over(wb_all).alias("m_b"),
        )
        .filter((F.col("ra") == 1) & (F.col("rb") == 1))
        .select(
            "a_id",
            "b_id",
            "cos",
            F.round(
                2.0 * F.col("cos") - F.col("m_a") - F.col("m_b"), 6
            ).alias("csls"),
        )
        .orderBy("a_id", "b_id")
    )
