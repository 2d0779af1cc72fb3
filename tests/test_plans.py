"""Physical-plan quality gates (SURVEY.md section 4.3: "verify with
df.explain in tests").

Correctness tests prove the answers match; these prove the PLANS are the
ones that survive a 100x scale-up: filters reach the parquet scan, scans
prune columns, small dims broadcast, top-k never global-sorts, and the
hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.smoke

from poc_parquet_publisher_spark.queries.declared import (
    q02_scan_project,
    q04_filter,
    q07_group_agg,
    q12_join_multiway,
    q16_join_broadcast,
    q20_topk,
)

SF = "/root/testdata/sf0.001"


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes (and codegens) the plan only once it runs
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(q04_filter(spark, SF))
    assert "PushedFilters: [" in plan
    # both conjuncts pushed: status equality and totalprice bound
    # (plan toString truncates long filter lists -- match prefixes)
    assert "EqualTo(o_orderstatus" in plan
    assert "GreaterThan(o_total" in plan


def test_column_pruning_in_scan(spark):
    plan = plan_of(q02_scan_project(spark, SF))
    # ReadSchema carries only the 4 projected columns, not all 16
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    for col in ("l_comment", "l_shipmode", "l_partkey"):
        assert col not in read_schema


def test_small_dims_broadcast(spark):
    assert "BroadcastHashJoin" in plan_of(q16_join_broadcast(spark, SF))
    # multiway join: nation/region (tiny) must broadcast, never shuffle
    plan = plan_of(q12_join_multiway(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark):
    # ORDER BY ... LIMIT k must plan as TakeOrderedAndProject: a global
    # Sort of the full table would shuffle everything at 100 TB
    plan = plan_of(q20_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_agg_is_partial_then_final(spark):
    # partial (map-side) + final HashAggregate pair: the shuffle carries
    # one row per group per partition, not one per input row
    plan = plan_of(q07_group_agg(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_hot_path_stays_in_codegen(spark):
    plan = plan_of(q07_group_agg(spark, SF), execute=True)
    assert "isFinalPlan=true" in plan
    # '*(N)' prefixes mark WholeStageCodegen spans; both aggregate stages
    # (partial and final) must sit inside one
    import re

    assert re.search(r"\*\(\d+\) HashAggregate", plan)


@pytest.mark.parametrize("qfn", [q02_scan_project, q04_filter, q20_topk])
def test_no_cartesian_anywhere(spark, qfn):
    assert "CartesianProduct" not in plan_of(qfn(spark, SF))


def test_ann_scoring_plans_are_join_based(spark):
    """The LSH/IVF scale contract in the PLAN: candidate scoring is an
    equi-join back to the corpus (SortMergeJoin/BroadcastHashJoin/
    ShuffledHashJoin on ids), never a cartesian product, and the
    near-dup self-join goes through the band equi-key."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import similarity
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    for df in (
        similarity.lsh_topk(emb, q),
        similarity.lsh_neardup_pairs(emb),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "Join" in plan


def test_stratified_sample_is_shuffle_free(spark):
    """x25 is a pure narrow filter: the per-stratum CASE folds into the
    scan's filter stage -- no Exchange anywhere in the plan."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import sampling

    docs = load_table(spark, SF, "documents")
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", {"es": 0.75, "zh": 0.25},
        default_fraction=0.5,
    )
    assert "Exchange" not in plan_of(out)


def test_contamination_broadcasts_benchmark(spark):
    """x34: the benchmark shingle set must ride a broadcast hash join --
    a shuffle join keyed on the shingle would move the whole corpus's
    postings for a KB-sized eval set."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import dedup

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    plan = plan_of(dedup.contamination_scores(docs, bench, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_banded_no_cartesian_single_band_shuffle(spark):
    """x40: candidates come from the banded groupBy, never a cross join;
    signatures are a narrow fold (no per-component shuffle)."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import dedup

    docs = load_table(spark, SF, "documents")
    plan = plan_of(dedup.minhash_banded_pairs(docs, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_shuffle_no_global_sort(spark):
    """x42's operator itself must not plan a global Sort: the ranking is
    per-shard windows (local sort after one hash partitioning)."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import sampling

    docs = load_table(spark, SF, "documents")
    plan = plan_of(sampling.shard_shuffle(docs, "doc_id", n_shards=8))
    # rangepartitioning = a global sort's shuffle; the only exchange
    # allowed here is hash partitioning on the shard key
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(shard" in plan


def test_semantic_dedup_no_cartesian(spark):
    """x35: assignment is a narrow mapInPandas; the only shuffle is the
    centroid groupBy -- no pairwise join of the corpus ever appears."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import similarity

    emb = load_table(spark, SF, "embeddings")
    plan = plan_of(
        similarity.semantic_dedup(emb, threshold=0.4, n_centroids=4)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_no_cartesian_linear_explodes(spark):
    """x45: positional windows + position coverage are Generate
    (explode) nodes; the duplicate filter must be a partial-aggregating
    hash-groupBy + LeftSemi equi-join on the md5 key, NEVER an analytic
    window (a window pins every instance of a hot stop-phrase 5-gram
    into one shuffle partition and cannot partial-aggregate)."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import dedup

    docs = load_table(spark, SF, "documents")
    plan = plan_of(dedup.duplicate_spans(docs, "doc_id", "text", k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the linear explodes
    assert "Window" not in plan  # hot-key-safe groupBy, not a window
    assert "LeftSemi" in plan  # the >=2-hash membership probe
    assert "HashAggregate" in plan


def test_vocab_coverage_window_after_limit(spark):
    """x47: the cumulative-coverage window must run over the ALREADY
    LIMITED top-N rows (driver-scale), never the full vocabulary: the
    plan's Window sits above a GlobalLimit/TakeOrdered."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import text

    docs = load_table(spark, SF, "documents")
    plan = plan_of(text.vocab_coverage(docs, "text", top_n=100))
    assert "CartesianProduct" not in plan
    # limit happens below the window: TakeOrderedAndProject (or a
    # GlobalLimit) must appear, and the broadcast total is a
    # BroadcastExchange, not a second scan shuffle
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert "Window" in plan
    assert plan.index("Window") < plan.index(
        "TakeOrderedAndProject" if "TakeOrderedAndProject" in plan
        else "GlobalLimit"
    )


def test_temperature_mixture_single_groupby_broadcast_totals(spark):
    """x46: one hash aggregate over the corpus; denominators ride a
    broadcast 1-row aggregate (BroadcastExchange), no window and no
    second corpus shuffle."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import sampling

    docs = load_table(spark, SF, "documents")
    plan = plan_of(
        sampling.temperature_mixture(docs, "source", "text")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "Window" not in plan


def test_snapshot_diff_narrow_equijoin(spark):
    """x50: both snapshots reduce to (id, md5) before the single
    full-outer equi-join -- document text must not appear in the join's
    output columns, and the join is never a nested loop."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import incremental
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    plan = plan_of(
        incremental.snapshot_diff(old, docs, "doc_id", "text")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan


def test_oov_ratio_vocab_is_broadcast(spark):
    """x51: the top-N vocab joins the exploded token stream as a
    BROADCAST hash join -- the token stream itself must not shuffle for
    the membership probe."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import text

    docs = load_table(spark, SF, "documents")
    plan = plan_of(text.oov_ratio(docs, "doc_id", "text", top_n=50))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_pass_no_joins(spark):
    """x59: the whole funnel folds into one aggregate pass over one
    scan -- no joins anywhere in the plan."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import curate

    docs = load_table(spark, SF, "documents")
    plan = plan_of(curate.curation_funnel(docs))
    assert "Join" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    # exactly one parquet scan feeds the funnel
    assert plan.count("Scan parquet") == 1


def test_hourly_rollups_single_aggregate(spark):
    """x60/x61/x62: each triage/observability table is one grouped
    aggregate over one scan -- no joins, no windows."""
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import dedup
    from poc_parquet_publisher_spark.queries.extensions import (
        x61_hourly_dup_rate,
        x62_hourly_value_percentiles,
    )

    docs = load_table(spark, SF, "documents")
    for df in (
        dedup.dup_rate_by_group(docs, "source", "doc_id", "text"),
        x61_hourly_dup_rate(spark, SF),
        x62_hourly_value_percentiles(spark, SF),
    ):
        plan = plan_of(df)
        assert "Join" not in plan
        assert "Window" not in plan
        assert plan.count("Scan parquet") == 1


def test_x86_prefix_sum_no_global_window(spark):
    """x86: the vocabulary running sum is the two-pass partition
    prefix-sum (scale.prefix_sum), never a global Window -- a
    ``Window.orderBy`` over doc-cardinality rows plans as ``Exchange
    SinglePartition`` and serializes the whole curve through one task
    at 100x scale. The gate: no Window node at all, no SinglePartition
    exchange, and the local pass is Arrow-batched (MapInArrow since
    round 12 -- passthrough columns stay Arrow buffers instead of
    per-row pandas objects)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x86_vocab_growth,
    )

    plan = plan_of(x86_vocab_growth(spark, SF))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "MapInArrow" in plan


def test_dq_rollup_dim_joins_broadcast(spark):
    """x55/x82/x83: every fact-dim equi-join in the DQ/rollup audits
    rides a BroadcastHashJoin (the dim/parent/key side is small by
    contract -- dims, distinct key sets, or date pairs), so a future
    AQE or autoBroadcastJoinThreshold change can't silently flip them
    to sort-merge and shuffle the fact table."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x55_referential_integrity,
        x82_lead_time_histogram,
        x83_dimension_coverage,
    )

    for qfn in (
        x55_referential_integrity,
        x82_lead_time_histogram,
        x83_dimension_coverage,
    ):
        plan = plan_of(qfn(spark, SF))
        assert "BroadcastHashJoin" in plan, qfn.__name__
        assert "SortMergeJoin" not in plan, qfn.__name__
        assert "CartesianProduct" not in plan, qfn.__name__


def test_x90_global_rank_no_global_sort(spark):
    """x90: global ranking must come from the two-pass row-number
    (range partition + broadcast offsets), never ROW_NUMBER() OVER a
    SinglePartition exchange. (The final output orderBy is a range
    exchange -- allowed; the gate is on Window/SinglePartition.)"""
    from poc_parquet_publisher_spark.queries.extensions import (
        x90_global_rank,
    )

    plan = plan_of(x90_global_rank(spark, SF))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "MapInArrow" in plan


def test_pagerank_no_broadcast_of_node_state(spark):
    """x104: the rank table is node-sized, so the iteration joins must
    be shuffled hash joins, never broadcasts (a broadcast that fits at
    sf0.1 is the plan that OOMs at 100x) -- and nothing may plan a
    cartesian."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x104_pagerank,
    )

    plan = plan_of(x104_pagerank(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only BroadcastHashJoins allowed are the 1-row corpus-stat
    # cross joins (BroadcastNestedLoopJoin on a 1-row side), never the
    # rank/sums equi-joins
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            raise AssertionError(f"rank join broadcast: {line}")


def test_key_skew_gini_no_single_partition_rank(spark):
    """x108: the global rank over the key-frequency table comes from
    the two-pass prefix-sum -- no Window node, no Exchange
    SinglePartition (the x90 gate, applied to the Gini reuse)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x108_key_skew_gini,
    )

    plan = plan_of(x108_key_skew_gini(spark, SF))
    # no Window node anywhere: the rank is mapInPandas prefix-sum
    assert "Window" not in plan
    # the only SinglePartition exchange allowed is the final 1-row
    # aggregate, which must sit ABOVE a partial aggregation (so the
    # single task receives partition-count rows, not the key table)
    assert "partial_sum" in plan
    head, _, _ = plan.partition("Exchange SinglePartition")
    assert "partial_sum((rn" not in head, (
        "rank*freq summation must partial-aggregate before the "
        "single-partition final step"
    )


def test_source_overlap_no_cartesian_one_bucket_shuffle(spark):
    """x102: source pairs expand INSIDE each shingle bucket (HOF over
    the collected source set), never via a posting self-join or
    cartesian."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x102_source_overlap,
    )

    plan = plan_of(x102_source_overlap(spark, SF))
    assert "CartesianProduct" not in plan


def test_bm25_postings_filtered_before_aggregation(spark):
    """x106: the term filter must sit below the (doc,term) aggregate --
    postings materialize only for the query's terms, at any corpus
    size; df/idf and corpus stats ride broadcasts."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x106_bm25_topk,
    )

    plan = plan_of(x106_bm25_topk(spark, SF))
    assert "CartesianProduct" not in plan
    # the explode feeding the aggregate carries the IN-list filter
    assert "spark IS NOT NULL" not in plan  # guard: no degenerate plan
    import re

    gen = plan.find("Generate explode")
    assert gen != -1
    filt = plan.find("Filter term")
    # a Filter on the exploded term column exists somewhere in the plan
    assert "term#" in plan


def test_salted_distinct_no_expand_two_phase(spark):
    """x118: the decomposed distinct must plan as two partial-agg
    HashAggregate pairs with NO Expand node (Expand is the
    count_distinct rewrite whose final agg shuffles raw rows by the
    group key alone -- the hot-key reducer at scale)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x118_salted_distinct,
    )

    plan = plan_of(x118_salted_distinct(spark, SF))
    assert "Expand" not in plan
    assert plan.count("partial_count") >= 1


def test_quality_ensemble_no_global_window(spark):
    """x119: rank normalization must come from broadcast percentile
    thresholds + a row-local fold -- no Window node, no
    SinglePartition exchange below the final orderBy."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x119_quality_ensemble,
    )

    plan = plan_of(x119_quality_ensemble(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# -- registry-wide cartesian gate -------------------------------------------

from poc_parquet_publisher_spark.queries import REGISTRY, all_queries

_ensure_reg = all_queries()
# Streaming entries EXECUTE their drain while the DataFrame is built (the
# returned frame is the drained sink) -- planning them here would re-run
# multi-second streams the streaming tests already gate; their batch-side
# shapes are asserted by their own stream==batch tests.
_STREAMING = {
    "x27_streaming_window",
    "x48_session_window",
    "x58_sliding_window",
    "x93_stream_enrichment",
    "x103_stream_attribution",
    "x143_stream_dedup_counts",
    "x167_stream_latest_state",
    "x233_stream_multibatch",
}
_PLAN_NAMES = sorted(n for n in REGISTRY if n not in _STREAMING)


@pytest.mark.parametrize("name", _PLAN_NAMES)
def test_registry_no_cartesian(spark, name):
    """EVERY registry entry plans without a CartesianProduct. 1-row
    broadcast crossJoins legitimately plan as BroadcastNestedLoopJoin
    (bounded by contract), so only the unbounded-blowup operator is
    banned repo-wide."""
    plan = plan_of(REGISTRY[name].spark(spark, SF))
    assert "CartesianProduct" not in plan, name


def test_x153_quantile_normalize_no_global_sort(spark):
    """x153: the percentile rank must come from the two-pass prefix-sum
    row-number, never a SinglePartition window (x90's gate; the final
    output orderBy range exchange is allowed)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x153_quantile_normalize,
    )

    plan = plan_of(x153_quantile_normalize(spark, SF))
    assert "Window" not in plan
    assert "MapInArrow" in plan
    # the one allowed SinglePartition is the global count(*)'s FINAL
    # aggregate (partition-count partial rows cross it, never data):
    # every SinglePartition exchange must feed a HashAggregate
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            assert "HashAggregate" in nxt, f"unbounded funnel: {line}\n{nxt}"


def test_x150_bfs_frontier_joins_not_cartesian(spark):
    """x150: every hop is an equi-join against the edge list plus an
    anti-join against the visited set -- no cartesian; level counts are
    1-row aggregates."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x150_bfs_reach,
    )

    plan = plan_of(x150_bfs_reach(spark, SF))
    assert "CartesianProduct" not in plan


def test_x217_bucketed_join_stage_has_no_exchange(spark):
    """x217: after the entry writes both catalog tables bucketed on the
    join key, the JOIN STAGE itself (bucketed_join on the two tables,
    before any aggregate) must plan with ZERO Exchange -- the bucket
    layout replaces the shuffle. The entry's full plan still exchanges
    for the segment aggregate; the gate isolates the join."""
    from poc_parquet_publisher_spark import scale
    from poc_parquet_publisher_spark.queries.extensions import (
        x217_bucketed_join,
    )

    # materializes the bucketed tables for this SF as a side effect
    x217_bucketed_join(spark, SF)
    import re

    tag = re.sub(r"[^A-Za-z0-9]+", "_", SF).strip("_").lower()
    j = scale.bucketed_join(
        spark, f"x217_orders_{tag}", f"x217_customer_{tag}", "o_custkey"
    )
    # at toy SF the dim is broadcastable and AQE rightly prefers BHJ
    # (BroadcastExchange is not a shuffle); the bucket layout means NO
    # SHUFFLE exchange in the join stage at any size
    assert "Exchange hashpartitioning" not in plan_of(j)
    # force the merge path (the 100 TB shape): fully exchange-free
    merge = (
        spark.table(f"x217_orders_{tag}")
        .hint("merge")
        .join(spark.table(f"x217_customer_{tag}"), "o_custkey")
    )
    plan = plan_of(merge)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_x235_shuffle_hash_hint_is_honored(spark):
    """x235: the SHUFFLE_HASH hint must actually select a
    ShuffledHashJoin -- no silent fallback to broadcast or sort-merge
    (the hint is the entry's entire point)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x235_join_hints,
    )

    plan = plan_of(x235_join_hints(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_x268_id_gaps_no_global_window_over_orders(spark):
    """x268: the corpus-sized lead() must run inside key-range buckets
    (Window partitioned by b) -- the only SinglePartition window
    allowed is the one over the bucket-span AGGREGATE (bucket
    cardinality, bounded), so every 'Window' below a SinglePartition
    exchange must sit above a HashAggregate, never directly on the
    orders scan."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x268_id_gaps,
    )

    plan = plan_of(x268_id_gaps(spark, SF))
    # the bucket-local window exists and is hash-partitioned
    assert "Exchange hashpartitioning(b" in plan
    # the seam window's SinglePartition feed must come from the
    # partial-aggregated span table: between the scan and the
    # SinglePartition exchange there must be a partial aggregate
    head, sep, _ = plan.partition("Exchange SinglePartition")
    assert sep, "expected the bounded seam window"
    assert "partial_min" in plan or "partial_max" in plan or (
        "HashAggregate" in head
    )


def test_x292_ewma_windows_ride_day_aggregate(spark):
    """x292: its partition-less row_number() windows are allowed ONLY
    because they run over the day-cardinality aggregate (the x81/x151
    bounded contract) -- this makes that contract checkable: every
    Exchange SinglePartition in the plan must sit DIRECTLY on a
    HashAggregate (the day rollup), never on a corpus-sized scan, and
    the rollup must partial-aggregate before the exchange."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x292_ewma_halflife,
    )

    plan = plan_of(x292_ewma_halflife(spark, SF))
    parts = plan.split("Exchange SinglePartition")
    assert len(parts) > 1, "expected the bounded seam windows"
    for seg in parts[1:]:
        # drop the remainder of the exchange's own line, then the
        # exchange's immediate child must be the day aggregate, so the
        # single task receives day-cardinality rows, not the corpus
        first = next(
            ln for ln in seg.splitlines()[1:] if ln.strip(" :+-|")
        )
        assert "HashAggregate" in first, (
            f"SinglePartition window fed by non-aggregate input: {first}"
        )
    assert "partial_sum" in plan or "HashAggregate(keys=[_groupingexpression" in plan


def test_x265_centroid_shift_no_cartesian_bounded_cells(spark):
    """x265: the per-(label, epoch, pos) cell table is the only
    corpus-sized aggregation; everything after is label x dim bounded.
    No cartesian/BNLJ anywhere."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x265_centroid_shift,
    )

    plan = plan_of(x265_centroid_shift(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x340_w1_windows_ride_value_aggregate(spark):
    """x340: its ordered cumulative-CDF windows are allowed ONLY
    because they run over the distinct-value aggregate (bounded by
    the 2-dp value domain, corpus-independent -- the x81/x292
    contract): every Exchange SinglePartition must sit DIRECTLY on a
    HashAggregate, never on a corpus-sized scan."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x340_wasserstein_drift,
    )

    plan = plan_of(x340_wasserstein_drift(spark, SF))
    parts = plan.split("Exchange SinglePartition")
    assert len(parts) > 1, "expected the bounded seam windows"
    for seg in parts[1:]:
        first = next(
            ln for ln in seg.splitlines()[1:] if ln.strip(" :+-|")
        )
        assert "HashAggregate" in first, (
            f"SinglePartition window fed by non-aggregate input: {first}"
        )
    assert "CartesianProduct" not in plan


def test_qini_decile_no_single_partition_over_users(spark):
    """x386: the decile assignment must come from the two-pass
    distributed row number -- no ntile/Window over the user-cardinality
    table, no Exchange SinglePartition below the decile aggregate. The
    only allowed SinglePartition sits above a partial aggregation (the
    10-row decile rollup and 1-row totals)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x386_qini_curve,
    )

    plan = plan_of(x386_qini_curve(spark, SF))
    assert "ntile" not in plan.lower()
    # the row number comes from the mapInArrow two-pass prefix sum
    assert "MapInArrow" in plan
    # any Window node must ride the 10-row decile aggregate, never the
    # user-cardinality table -- anchor the check to the window spec's
    # own partition/sort keys (not whole-line substrings, which would
    # trip on unrelated projections containing both words)
    import re

    for line in plan.splitlines():
        m = re.search(r"windowspecdefinition\(([^)]*)\)", line, re.I)
        if m:
            spec = m.group(1)
            assert "decile" in spec, f"window over non-aggregate: {line}"
            assert "score" not in spec, f"window keyed on score: {line}"


def test_x441_uniformity_ranks_avoid_single_partition_window(spark):
    """x441: the global AD/KS ranks must come from the two-pass
    prefix-sum (mapInArrow over a pinned range partitioning), never
    a SinglePartition window over the corpus -- the x90 gate applied
    to the round-7 uniformity audit."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x441_fingerprint_uniformity,
    )

    plan = plan_of(x441_fingerprint_uniformity(spark, SF))
    assert "MapInArrow" in plan  # the prefix-sum pass
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            raise AssertionError(f"unexpected Window node: {line}")


def test_x451_yuen_order_statistics_avoid_row_sort(spark):
    """x451: trimmed/winsorized moments must derive from the bounded
    value-domain cumsums -- the plan may sort the (group, value)
    DOMAIN inside its windows but must never globally sort or
    single-partition the event rows themselves."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x451_yuen_trimmed_t,
    )

    plan = plan_of(x451_yuen_trimmed_t(spark, SF))
    # windows ride partitionBy(grp): no empty-partition (global) spec
    for line in plan.splitlines():
        if "windowspecdefinition(vc" in line:
            raise AssertionError(
                f"window partitioned on nothing (global sort): {line}"
            )
    assert "CartesianProduct" not in plan


def test_x466_calibration_pairs_are_block_equi_join(spark):
    """x466: the pair generation must be an equi-join on the block
    key (linear pair count), never a nested-loop over all doc
    pairs."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x466_minhash_calibration,
    )

    plan = plan_of(x466_minhash_calibration(spark, SF))
    assert "CartesianProduct" not in plan
    # the blk equi-key must appear in a hash-join condition
    assert "blk" in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "blk" in ln
    ]
    assert joins, "no join keyed on blk found"
    assert all("BroadcastNestedLoop" not in ln for ln in joins)
