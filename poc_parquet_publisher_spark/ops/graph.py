"""Iterative graph algorithms as fixed-depth DataFrame plans.

The reference has no graph surface; this is the extension leg that
generalizes ``dedup.duplicate_clusters`` (min-label propagation) to
weighted propagation: PageRank with a FIXED iteration count, each
iteration one edge-sized join + one partial-aggregating groupBy --
the shape GraphX/Pregel lowers to, but expressed declaratively so
Catalyst/AQE plan every round (and an oracle can replay it as chained
CTEs).

Determinism contract: per-edge contributions are round(·,12) doubles
cast to DECIMAL(28,12) before the neighbor SUM (partition-order
independent -- the x88 round-then-DECIMAL recipe), the damping update
runs in DOUBLE (division and multiply are correctly rounded IEEE ops),
and each iteration's rank is re-rounded to 12 decimals so both engines
enter the next round with bit-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scale import pairs_within


def _copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """(u, v) with u < v for every two distinct parts in one order, one
    row per order holding both. Pairs expand inside each order's sorted
    item array (x76's HOF shape, ~|order|^2 with tiny orders -- never a
    corpus self-join)."""
    # no pre-distinct: collect_set dedupes (order, part) for free inside
    # the one groupBy shuffle, where an explicit .distinct() would add a
    # second full-table exchange
    items = lineitem.select("l_orderkey", "l_partkey")
    buckets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return buckets.select(
        F.explode(
            pairs_within(
                F.col("parts"),
                lambda x, y: F.struct(x.alias("u"), y.alias("v")),
            )
        ).alias("p")
    ).select("p.*")


def symmetric_copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct symmetric co-purchase edges (u, v): parts appearing in
    the same order, both directions -- the in-order pairs, distinct-ed,
    then mirrored."""
    pairs = (
        _copurchase_pairs(lineitem)
        .distinct()
        # materialize the HALF-size asymmetric pair set once; the
        # symmetric view below is two scans of this cache, so nothing
        # downstream (degree, iteration joins) re-derives the graph
        .localCheckpoint(eager=False)
    )
    return pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))


def support2_edges(lineitem: DataFrame) -> DataFrame:
    """Support>=2 co-purchase edges (u, v), u < v: part pairs that share
    at least two orders -- the pruned graph x210's triangles, x243's
    k-core and the x359-x361 family run on. One direction only. Lazily
    checkpointed: the first action materializes it, and every later
    plan over the returned frame reads the checkpoint. Each call derives
    it anew; callers that share one across entries cache it."""
    return (
        _copurchase_pairs(lineitem)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )


def copurchase_edge_table_name(sf_dir: str) -> str:
    """Warehouse table name for the persisted symmetric co-purchase edge
    list, keyed by the fixture dir so a table built at one scale factor
    can never be read at another (the bench builds sf0.1; the driver's
    sf0.01 correctness run must not see it)."""
    import hashlib

    return "x104_edges_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def persist_copurchase_edges(spark, lineitem: DataFrame, table: str) -> None:
    """Materialize the symmetric edge list as a bucketed warehouse table
    (bucketed+sorted on the join key ``u``, one bucket per shuffle
    partition): a real deployment derives
    the graph once and amortizes it across every rank/degree/analytics
    run -- PageRank's per-iteration join then reads bucket-aligned
    edges with no edge-side exchange. In-session, x104 pays the
    derivation every call unless this table exists."""
    from .. import scale

    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = symmetric_copurchase_edges(lineitem)
    scale.write_bucketed(edges, table, "u", n_buckets=n_buckets)


DAMPING = 0.85
PAGERANK_ITERATIONS = 3


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over a symmetric edge list, fixed ``PAGERANK_ITERATIONS`` power
    steps. Output: (node, rank) for every node, rank rounded to 12.

    Scale shape: NOTHING collects to the driver -- the node count rides
    a broadcast 1-row aggregate; each iteration is one edge-sized
    equi-join (rank table joined to edges on the source key) + one
    hash-groupBy on the destination key with partial aggregation. State
    between rounds is the node-sized rank table. Degree is constant so
    it stays a column of the rank table (no per-round recompute). With
    a symmetric graph every node has degree >= 1, so there is no
    dangling-mass term.
    """
    # The edge list feeds every iteration's join: callers pass it
    # materialized ONCE (a table, or a localCheckpoint -- without one
    # each round re-derives it from source, measured 12.6 s -> ~5 s at
    # sf0.1; symmetric_copurchase_edges checkpoints its half-size pair
    # set).
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ncnt = deg.agg(F.count(F.lit(1)).alias("n"))
    nodes = deg.crossJoin(F.broadcast(ncnt))
    base = 1.0 - DAMPING
    rank = nodes.withColumn("r", F.lit(1.0) / F.col("n"))
    for _ in range(PAGERANK_ITERATIONS):
        # shuffle_hash, NOT broadcast: the rank table is node-sized, so
        # at scale it can never broadcast -- and in local mode AQE's
        # eager broadcast of the 3 chained iteration sub-plans exhausts
        # the driver heap. A shuffled hash join keeps every round one
        # edge-sized exchange with the node table hash-built per
        # partition.
        contrib = edges.join(
            rank.select("u", "deg", "r").hint("shuffle_hash"), "u"
        ).select(
            F.col("v").alias("u"),
            F.round(F.col("r") / F.col("deg"), 12)
            .cast("decimal(28,12)")
            .alias("c"),
        )
        sums = contrib.groupBy("u").agg(F.sum("c").alias("s"))
        rank = (
            nodes.join(sums.hint("shuffle_hash"), "u", "left")
            .select(
                "u",
                "deg",
                "n",
                F.round(
                    F.lit(base) / F.col("n")
                    + F.lit(DAMPING)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("r"),
            )
        )
    return rank.select(F.col("u").alias("node"), F.col("r").alias("rank"))


def pagerank_copurchase_sql() -> str:
    """DuckDB SQL replaying ``pagerank(symmetric_copurchase_edges(...))``
    as chained CTEs -- one pair of CTEs per iteration, same round-12 /
    DECIMAL(28,12) accumulation, same double update arithmetic.
    Delegates to :func:`pagerank_sql_over_edges` with the co-purchase
    edge derivation."""
    edge_ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """p AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
)""",
        "edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p)",
    ]
    return pagerank_sql_over_edges(
        edge_ctes,
        node_select="CAST(u AS BIGINT) AS node",
    )


def pagerank_sql_over_edges(
    edge_ctes: list[str],
    node_select: str = "u AS node",
) -> str:
    """DuckDB SQL replaying ``pagerank`` over caller-supplied CTEs that
    must end by defining ``edges(u, v)`` (symmetric) -- the same
    round-12 / DECIMAL(28,12) iteration chain as
    ``pagerank_copurchase_sql``, parameterized so non-copurchase graphs
    (x324's word co-occurrence TextRank) replay through one proven
    template."""
    base = 1.0 - DAMPING
    ctes = list(edge_ctes) + [
        "deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT u, deg, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)"
        " AS r FROM deg)",
    ]
    for i in range(PAGERANK_ITERATIONS):
        ctes.append(
            f"""c{i + 1} AS (
  SELECT e.v AS u,
         SUM(CAST(ROUND(r.r / r.deg, 12) AS DECIMAL(28,12))) AS s
  FROM edges e JOIN r{i} r ON e.u = r.u GROUP BY e.v
)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
  SELECT d.u, d.deg,
         ROUND(CAST({base!r} AS DOUBLE) / (SELECT n FROM nn) +
               CAST({DAMPING!r} AS DOUBLE) *
               COALESCE(CAST(c{i + 1}.s AS DOUBLE),
                        CAST(0.0 AS DOUBLE)), 12) AS r
  FROM deg d LEFT JOIN c{i + 1} ON d.u = c{i + 1}.u
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {node_select}, ROUND(r, 8) AS rank
FROM r{PAGERANK_ITERATIONS}
ORDER BY r DESC, u LIMIT 20"""
    )


LPA_ITERATIONS = 2


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label-propagation communities (LPA), fixed
    ``LPA_ITERATIONS`` rounds: every node starts as its own label; each
    round a node adopts its neighbors' MOST FREQUENT label, ties broken
    by the smallest label -- deterministic, so oracle-replayable
    (classic async LPA is order-dependent; the synchronous fixed-round
    variant is the one that parallelizes AND determinizes). The
    community-detection member of the Pregel family next to
    ``pagerank`` (influence) and ``bfs_levels`` (reachability).

    Output: (node, lab) after the final round.

    Scale shape: per round ONE edge-sized equi-join (edges x labels,
    shuffle on the node key) + two node-sized aggregations (label
    counts, then max-count/min-label argmax folded into a single
    min(struct(-c, lab)) -- no window, no per-node subquery).
    Node-state stays in shuffled hash joins, never broadcast (x104's
    refusal, same reason); labels localCheckpoint per round so lineage
    stays flat."""
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(LPA_ITERATIONS):
        nb = (
            edges.join(
                labels.select(
                    F.col("node").alias("v"), "lab"
                ).hint("shuffle_hash"),
                "v",
            )
            .groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            nb.groupBy(F.col("u").alias("node"))
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab")))
                .getField("lab")
                .alias("lab")
            )
            .localCheckpoint(eager=False)
        )
    return labels


def lpa_copurchase_sql() -> str:
    """DuckDB SQL replaying ``label_propagation`` over the
    ``l_partkey % part_mod = 0`` co-purchase subgraph: per round one
    neighbor-label count CTE, one per-node max CTE, one argmax CTE
    (max count, then min label) -- all MATERIALIZED (chained-CTE
    re-inline defense). Final output: community sizes."""
    ctes = [
        """items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey % 4 = 0
)""",
        """p AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
)""",
        "edges AS MATERIALIZED (SELECT u, v FROM p "
        "UNION ALL SELECT v, u FROM p)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab "
        "FROM edges)",
    ]
    for i in range(LPA_ITERATIONS):
        ctes.append(
            f"""n{i + 1} AS MATERIALIZED (
  SELECT e.u, l.lab, count(*) AS c
  FROM edges e JOIN l{i} l ON l.node = e.v
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{i + 1} AS MATERIALIZED (
  SELECT u, max(c) AS mc FROM n{i + 1} GROUP BY u
)"""
        )
        ctes.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT n.u AS node, min(n.lab) AS lab
  FROM n{i + 1} n JOIN m{i + 1} m ON m.u = n.u AND n.c = m.mc
  GROUP BY 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(lab AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS rep
FROM l{LPA_ITERATIONS}
GROUP BY lab
ORDER BY n_nodes DESC, community"""
    )


BFS_HOPS = 3


def bfs_levels(edges: DataFrame) -> DataFrame:
    """Breadth-first reachability from the minimum node id, fixed
    ``BFS_HOPS`` rounds. Output: one row per level 0..BFS_HOPS with the count
    of nodes FIRST reached at that distance (empty levels report 0).

    The other canonical Pregel workload next to ``pagerank``: per hop
    ONE edge-sized equi-join (frontier ⋈ edges) + distinct + anti-join
    against the visited set. The seed is a broadcast 1-row aggregate;
    the visited set is node-cardinality and localCheckpoint'ed per hop
    so lineage stays flat; corpus-sized data never collects. Level
    counts are 1-row aggregates unioned -- the result is (hops+1) rows
    regardless of graph size. Reference analog: none (extension
    surface; graph reachability over the co-purchase graph)."""
    seed = edges.agg(F.min("u").alias("node"))
    visited = seed.localCheckpoint(eager=False)
    frontiers = [visited]
    for _ in range(BFS_HOPS):
        prev = frontiers[-1]
        # shuffle_hash, NOT broadcast: frontier and visited sets are
        # node-sized -- a broadcast that fits the seed hop OOMs the
        # moment the frontier saturates (pagerank's refusal, same
        # reason; measured: the unhinted plan dies at sf0.1 local[8])
        nxt = (
            edges.join(
                prev.withColumnRenamed("node", "u").hint("shuffle_hash"),
                "u",
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.hint("shuffle_hash"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        frontiers.append(nxt)
        visited = visited.union(nxt).localCheckpoint(eager=False)
    levels = None
    for h, f in enumerate(frontiers):
        row = f.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        ).select(
            F.lit(h).cast("long").alias("dist"), "n_nodes"
        )
        levels = row if levels is None else levels.union(row)
    return levels


def bfs_copurchase_sql() -> str:
    """DuckDB SQL replaying ``bfs_levels(symmetric_copurchase_edges(...))``
    as chained CTEs: one frontier CTE per hop, NOT-IN against every
    prior level (the visited set), counts unioned per level."""
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """p AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
)""",
        "edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p)",
        "f0 AS (SELECT MIN(u) AS node FROM edges)",
    ]
    for h in range(1, BFS_HOPS + 1):
        not_in = " AND ".join(
            f"e.v NOT IN (SELECT node FROM f{i})" for i in range(h)
        )
        ctes.append(
            f"""f{h} AS (
  SELECT DISTINCT e.v AS node
  FROM edges e JOIN f{h - 1} ON e.u = f{h - 1}.node
  WHERE {not_in}
)"""
        )
    counts = "\n  UNION ALL ".join(
        f"SELECT {h} AS dist, count(*) AS n FROM f{h}"
        for h in range(BFS_HOPS + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
lv AS (
  {counts}
)
SELECT CAST(dist AS BIGINT) AS dist, CAST(n AS BIGINT) AS n_nodes
FROM lv ORDER BY dist"""
    )


def personalized_pagerank(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED
    distribution) over a symmetric edge list: ``seeds`` is (u, w) with
    weights summing to 1; non-seed nodes get 0 teleport mass, so rank
    concentrates around the seed neighborhood -- the query-expansion /
    related-items primitive vanilla :func:`pagerank` cannot express.
    Same scale shape as pagerank: node-sized state, one edge-keyed
    shuffle_hash join + destination groupBy per iteration, round-12
    DECIMAL contributions. ``edges`` comes materialized, as for
    :func:`pagerank`."""
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    base = 1.0 - DAMPING
    nodes = deg.join(seeds.select("u", "w"), "u", "left").select(
        "u", "deg", F.coalesce(F.col("w"), F.lit(0.0)).alias("w")
    )
    rank = nodes.withColumn("r", F.col("w"))
    for _ in range(PAGERANK_ITERATIONS):
        contrib = edges.join(
            rank.select("u", "deg", "r").hint("shuffle_hash"), "u"
        ).select(
            F.col("v").alias("u"),
            F.round(F.col("r") / F.col("deg"), 12)
            .cast("decimal(28,12)")
            .alias("c"),
        )
        sums = contrib.groupBy("u").agg(F.sum("c").alias("s"))
        rank = (
            nodes.join(sums.hint("shuffle_hash"), "u", "left")
            .select(
                "u",
                "deg",
                "w",
                F.round(
                    F.lit(base) * F.col("w")
                    + F.lit(DAMPING)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("r"),
            )
        )
    return rank.select(F.col("u").alias("node"), F.col("r").alias("rank"))


def ppr_sql_over_edges(edge_ctes: list[str], seed_cte: str) -> str:
    """DuckDB SQL replaying :func:`personalized_pagerank`: callers
    supply CTEs ending in ``edges(u, v)`` (symmetric) plus ``seed_cte``
    defining ``seeds(u, w)`` (weights summing to 1). Same round-12 /
    DECIMAL(28,12) chain as ``pagerank_sql_over_edges`` with the
    teleport mass redirected to the seed vector."""
    base = 1.0 - DAMPING
    ctes = list(edge_ctes) + [
        "deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u)",
        seed_cte,
        """nw AS (
  SELECT deg.u, deg.deg, COALESCE(s.w, CAST(0.0 AS DOUBLE)) AS w
  FROM deg LEFT JOIN seeds s ON deg.u = s.u
)""",
        "r0 AS (SELECT u, deg, w, w AS r FROM nw)",
    ]
    for i in range(PAGERANK_ITERATIONS):
        ctes.append(
            f"""c{i + 1} AS (
  SELECT e.v AS u,
         SUM(CAST(ROUND(r.r / r.deg, 12) AS DECIMAL(28,12))) AS s
  FROM edges e JOIN r{i} r ON e.u = r.u GROUP BY e.v
)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
  SELECT n.u, n.deg, n.w,
         ROUND(CAST({base!r} AS DOUBLE) * n.w +
               CAST({DAMPING!r} AS DOUBLE) *
               COALESCE(CAST(c{i + 1}.s AS DOUBLE),
                        CAST(0.0 AS DOUBLE)), 12) AS r
  FROM nw n LEFT JOIN c{i + 1} ON n.u = c{i + 1}.u
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT u AS token,
       CASE WHEN w > 0 THEN 1 ELSE 0 END AS is_seed,
       ROUND(r, 8) AS rank
FROM r{PAGERANK_ITERATIONS}
ORDER BY r DESC, u LIMIT 20"""
    )
