#!/usr/bin/env python
"""Scale-probe the heaviest registry entries beyond sf0.1 (round-7
verdict task #6): amplify the sf0.1 bench tables 3x and 10x, time the
heads at each scale in ONE warmed session, and fit per-entry
time-vs-scale exponents (t ~ sf^e, least-squares over the three
points). Results go to SCALE_PROBE.json and the BASELINE.md table.

Amplification (PERF-ONLY data -- never used for correctness; the
oracle gates all run on the driver-generated /root/testdata sets):

- documents: k disjoint copies; copy j > 0 suffixes every token with
  "~j", so each copy keeps sf0.1's exact within-copy token/shingle
  distribution while copies share NO vocabulary -- "10x more distinct
  docs from the same distribution", the shape a larger crawl has.
  Cross-copy near-dup pairs are zero by construction, so similarity
  joins scale with corpus size, not with an artificial 10x-duplicate
  explosion that replicating texts verbatim would create.
- lineitem: copy j shifts l_orderkey/l_partkey/l_suppkey by j*2^32 --
  disjoint co-purchase subgraphs of identical degree distribution
  (PageRank cost scales in nodes+edges; partition counts hold).
- events: copy j shifts event_id/user_id by j*2^32 -- per-user series
  lengths and type mix preserved exactly.

Run: python scripts/scale_probe.py          (~15 min at local[32])
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".scaleprobe")
SHIFT = 2**32

HEADS = [
    "x407_greedy_vocab_cover",
    "x102_source_overlap",
    "x104_pagerank",
    "x408_lsh_tuning_curve",
    "x376_prefix_filter_simjoin",
    "x23_curate_pipeline",
    "x251_cogroup_reconcile",
    "x403_recursive_cte",
    # wave 2 (round-8 verdict task #4): the next tier of heads
    "x447_heaps_law_fit",
    "x329_bradley_terry",
    "x398_dedup_ppl_impact",
    "x419_self_retrieval_eval",
    "x28_embedding_neardup_lsh",
    "x345_hits_authorities",
    "x274_char_trigrams",
]


def _write_amped(parts, out_path: str) -> None:
    amp = parts[0]
    for p in parts[1:]:
        amp = amp.unionByName(p)
    amp.repartition(32).write.mode("overwrite").parquet(out_path)


def amplify(spark, copies: int, out_dir: str) -> None:
    """Per-table guards (not one _DONE marker): wave 2 added part /
    orders / embeddings, and a marker written by the wave-1 run must
    not skip materializing them."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def _needs(table: str) -> bool:
        return not os.path.exists(f"{out_dir}/{table}.parquet/_SUCCESS")

    if _needs("documents"):
        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        parts = []
        for j in range(copies):
            c = docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(j * SHIFT)
            )
            if j > 0:
                # suffix every whitespace token -> disjoint vocabulary
                # per copy, within-copy distribution untouched
                c = c.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split("text", " "),
                            lambda t: F.concat(t, F.lit(f"~{j}")),
                        ),
                        " ",
                    ),
                )
            parts.append(c)
        _write_amped(parts, f"{out_dir}/documents.parquet")

    if _needs("lineitem"):
        li = spark.read.parquet(f"{BASE}/lineitem.parquet")
        _write_amped(
            [
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(j * SHIFT)
                )
                .withColumn(
                    "l_partkey", F.col("l_partkey") + F.lit(j * SHIFT)
                )
                .withColumn(
                    "l_suppkey", F.col("l_suppkey") + F.lit(j * SHIFT)
                )
                for j in range(copies)
            ],
            f"{out_dir}/lineitem.parquet",
        )

    if _needs("events"):
        ev = spark.read.parquet(f"{BASE}/events.parquet")
        _write_amped(
            [
                ev.withColumn(
                    "event_id", F.col("event_id") + F.lit(j * SHIFT)
                ).withColumn(
                    "user_id", F.col("user_id") + F.lit(j * SHIFT)
                )
                for j in range(copies)
            ],
            f"{out_dir}/events.parquet",
        )

    # wave-2 tables ------------------------------------------------
    if _needs("part"):
        # p_partkey shifts in lockstep with lineitem.l_partkey so the
        # x329 broadcast join stays consistent; p_brand is UNSHIFTED on
        # purpose -- the Bradley-Terry items stay the same 25 brands
        # while comparison volume grows linearly (more data, same
        # item universe: the realistic shape)
        pt = spark.read.parquet(f"{BASE}/part.parquet")
        _write_amped(
            [
                pt.withColumn(
                    "p_partkey", F.col("p_partkey") + F.lit(j * SHIFT)
                )
                for j in range(copies)
            ],
            f"{out_dir}/part.parquet",
        )

    if _needs("orders"):
        # o_orderkey/o_custkey shift with lineitem's keys -> disjoint
        # customer-part bipartite subgraphs for x345, degree
        # distribution preserved per copy
        od = spark.read.parquet(f"{BASE}/orders.parquet")
        _write_amped(
            [
                od.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(j * SHIFT)
                ).withColumn(
                    "o_custkey", F.col("o_custkey") + F.lit(j * SHIFT)
                )
                for j in range(copies)
            ],
            f"{out_dir}/orders.parquet",
        )

    # dimension passthrough: region/nation/customer/supplier are NOT
    # amplified -- at 10x the fact data the dimension universe staying
    # fixed is the realistic shape (same posture as part.p_brand), and
    # wave-5 heads (x355 conformal, x441 fingerprint uniformity, ...)
    # read them
    for dim_t in ("region", "nation", "customer", "supplier"):
        if _needs(dim_t):
            spark.read.parquet(f"{BASE}/{dim_t}.parquet").repartition(
                4
            ).write.mode("overwrite").parquet(
                f"{out_dir}/{dim_t}.parquet"
            )

    if _needs("embeddings"):
        _write_amped(
            _rotated_embeddings(spark, copies),
            f"{out_dir}/embeddings.parquet",
        )


def _rotated_embeddings(spark, copies: int) -> list:
    """``copies`` images of the sf0.1 embeddings with disjoint vec_ids.

    Copy j circularly rotates each vector by ``j % 63`` positions and,
    for j >= 63, also negates the odd dimensions (the rotation alone
    runs out of distinct images at the 64-dim width). Both maps are
    isometries applied uniformly, so norms and every WITHIN-copy inner
    product are exactly preserved while cross-copy cosine falls to
    chance level -- verbatim copies would give every vector (copies-1)
    exact twins and blow the x28 LSH candidate set up quadratically in
    copies, an artifact the real "10x more vectors" workload does not
    have.
    """
    from pyspark.sql import functions as F

    dim = 64
    em = spark.read.parquet(f"{BASE}/embeddings.parquet")
    parts = []
    for j in range(copies):
        rot, flip = j % (dim - 1), j >= dim - 1
        c = em.withColumn("vec_id", F.col("vec_id") + F.lit(j * SHIFT))
        if rot > 0:
            c = c.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {rot + 1}, "
                    f"{dim - rot}), slice(embedding, 1, {rot}))"
                ),
            )
        if flip:
            c = c.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> "
                    "IF(i % 2 = 1, -x, x))"
                ),
            )
        parts.append(c)
    return parts


# The blocked-MNN tier's planted-correspondence workload: b is a under
# deterministic ~2% directional jitter (planted cos ~0.978), offset by
# PLANTED_OFF so a true pair is (x, x + PLANTED_OFF).
PLANTED_OFF = 10**9


def planted_sides(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", "embedding")
    b = emb.select(
        (F.col("vec_id") + F.lit(PLANTED_OFF)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, d) -> cast(x * (1.0 + 0.3 "
            "* sin(vec_id * 97 + d * 131)) as float))"
        ).alias("embedding"),
    )
    return a, b


def _loglog_slope(times: dict) -> float:
    """Least-squares slope of log t vs log sf over ``{sf: seconds}``."""
    pts = sorted((float(s), t) for s, t in times.items())
    xs = [math.log10(s) for s, _ in pts]
    ys = [math.log10(max(t, 1e-3)) for _, t in pts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


XCAP_PROTOCOL = (
    "fresh process per (mode, point); sole Spark workload on the host; "
    "min-of-4 timed runs in-process; recall measured once per point"
)

# (sf, copies) of main's ladder over the sf0.1 tables.
SCALES = ((0.1, 1), (0.3, 3), (1.0, 10))

# (sf label, copies); 80 copies pass the 63 rotations, see
# _rotated_embeddings.
XCAP_SCALES: dict[str, int] = {"1.0": 10, "2.0": 20, "4.0": 40, "8.0": 80}


def _xcap_amplify(spark, sf: str, copies: int) -> str:
    d = os.path.join(SCRATCH, f"xcap_sf{sf}")
    out = f"{d}/embeddings.parquet"
    if not os.path.exists(f"{out}/_SUCCESS"):
        os.makedirs(d, exist_ok=True)
        _write_amped(_rotated_embeddings(spark, copies), out)
    return d


def _merge_probe_row(row_name: str, updates: dict) -> dict:
    """Merge per-point cells into SCALE_PROBE.json's row, recomputing
    the overall and last-doubling exponents from whatever points the
    row then holds."""
    probe_path = os.path.join(ROOT, "SCALE_PROBE.json")
    merged = {}
    if os.path.exists(probe_path):
        with open(probe_path) as f:
            merged = json.load(f)
    row = merged.get(row_name, {})
    for key, cell in updates.items():
        if isinstance(cell, dict):
            row.setdefault(key, {}).update(cell)
        else:
            row[key] = cell
    times = row.get("seconds_by_sf", {})
    if len(times) >= 2:
        row["exponent"] = round(_loglog_slope(times), 2)
        pts = sorted((float(s), t) for s, t in times.items())
        (x0, t0), (x1, t1) = pts[-2:]
        row["last_doubling_exponent"] = round(
            math.log(t1 / t0) / math.log(x1 / x0), 2
        )
    row["protocol"] = XCAP_PROTOCOL
    merged[row_name] = row
    with open(probe_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
        f.write("\n")
    return row


def xcap_main() -> None:
    """Probe mnn_align_blocked ACROSS the flat-quantizer cap boundary
    (round-10 verdict task #1; round-11 verdict task #1 re-measure).
    The derived schedule crosses the 1024-centroid flat cap at a union
    of ~65k vectors: the planted workload doubles the embeddings
    table, so 10x-amplified sf0.1 (20k rows -> 40k union -> 625
    centroids) is still flat while 20x/40x/80x (80k/160k/320k union ->
    1250/2500/5000 blocks) route to the two-level hierarchical
    quantizer.

    Round-11 lesson: concurrent Spark sessions contaminated the probe
    mins (two modes landed within 0.03% at sf4.0), so this runner now
    times ONE (mode, point) cell per process and merges it into the
    SCALE_PROBE.json row -- the orchestration contract is the
    XCAP_PROTOCOL string recorded on every row. Env knobs:

    - XCAP_POINTS=4.0[,8.0]   points to run (default: all)
    - XCAP_FIXED_PROBE=4      pin n_probe (data-scaling control row)
    - XCAP_PASSES=3           timed runs per point (min kept)
    - XCAP_RECALL=0           skip the recall pass (timing-only cell)
    - XCAP_RECALL_ONLY=1      recall pass only (no timed runs)
    - XCAP_FIT_ONLY=1         time the quantizer FIT alone (derivation
                              count + centroid fit, no candidate join)
                              into the ..._fit_only row

    Every timed pass also prints its executor CPU, shuffle writes and
    spills (telemetry.phase).
    """
    from pyspark.sql import functions as F

    from bench import warm_up
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import similarity
    from poc_parquet_publisher_spark.session import build_session
    from poc_parquet_publisher_spark.telemetry import phase

    spark = build_session(
        app_name="scale_probe_xcap",
        extra_conf={"spark.driver.memory": "24g"},
    )
    warm_up(spark)

    want = os.environ.get("XCAP_POINTS")
    points = [p for p in (want.split(",") if want else XCAP_SCALES)]
    scales = [
        (sf, _xcap_amplify(spark, sf, XCAP_SCALES[sf])) for sf in points
    ]

    # XCAP_FIXED_PROBE=4 pins n_probe (n_centroids still derived):
    # separates pure DATA scaling (block populations constant, so the
    # candidate join is linear at fixed probes) from the deliberate
    # +2-probes-per-doubling recall toll the production schedule pays
    fixed_probe = int(os.environ.get("XCAP_FIXED_PROBE", "0"))
    fit_only = os.environ.get("XCAP_FIT_ONLY") == "1"
    row_name = (
        "mnn_align_blocked_xcap_fit_only"
        if fit_only
        else f"mnn_align_blocked_xcap_fixed_probe{fixed_probe}"
        if fixed_probe
        else "mnn_align_blocked_xcap"
    )
    passes = int(os.environ.get("XCAP_PASSES", "3"))
    recall_only = os.environ.get("XCAP_RECALL_ONLY") == "1"
    do_recall = (
        os.environ.get("XCAP_RECALL", "1") == "1" and not fit_only
    )

    def run_mnn(a, b):
        return similarity.mnn_align_blocked(
            a, b, n_probe=fixed_probe or None
        )

    def run_fit(a, b):
        """The quantizer-fit share of the tier (round-11 verdict task
        #4): the same side-salted union + derivation count
        mnn_align_blocked performs, then the centroid fit alone."""
        union = a.select(
            F.concat(F.lit("a:"), F.col("vec_id").cast("string")).alias(
                "__side_id"
            ),
            "embedding",
        ).unionByName(
            b.select(
                F.concat(
                    F.lit("b:"), F.col("vec_id").cast("string")
                ).alias("__side_id"),
                "embedding",
            )
        )
        n_c, _ = similarity.ivf_params_for(union.count())
        if n_c <= similarity._FLAT_CENTROID_CAP:
            similarity._fit_centroids_on_sample(
                union, "__side_id", "embedding", n_c, 42, 8
            )
        else:
            similarity._fit_hier_centroids(
                union, "__side_id", "embedding", n_c, 42, 8
            )

    if not recall_only:
        for sf, sf_dir in scales:
            best: float | None = None
            for pass_no in range(passes):
                a, b = planted_sides(spark, sf_dir)
                with phase(spark) as ph:
                    if fit_only:
                        run_fit(a, b)
                    else:
                        run_mnn(a, b).count()
                dt = round(ph.seconds, 3)
                # a re-run REPLACES any stale cell from an earlier
                # process (pass 0 writes dt, later passes the min)
                best = dt if best is None else min(best, dt)
                _merge_probe_row(
                    row_name, {"seconds_by_sf": {sf: best}}
                )
                print(
                    f"# pass{pass_no} xcap sf{sf} {dt:.1f}s "
                    f"cpu {ph.cpu_s:.1f}s shuffle {ph.shuffle_mb:.0f}MB "
                    f"spill {ph.spill_mb:.0f}MB",
                    file=sys.stderr,
                )

    if do_recall:
        for sf, sf_dir in scales:
            a, b = planted_sides(spark, sf_dir)
            pairs = {
                (r["a_id"], r["b_id"]) for r in run_mnn(a, b).collect()
            }
            n = load_table(spark, sf_dir, "embeddings").count()
            planted = sum(1 for x, y in pairs if y - PLANTED_OFF == x)
            derived = list(similarity.ivf_params_for(2 * n))
            if fixed_probe:
                derived[1] = fixed_probe
            row = _merge_probe_row(
                row_name,
                {
                    "planted_recall_by_sf": {
                        sf: round(planted / n, 3)
                    },
                    "derived_schedule_by_sf": {sf: derived},
                },
            )
            print(
                f"# xcap sf{sf} planted recall {planted}/{n} "
                f"schedule {derived}",
                file=sys.stderr,
            )

    print(f"{row_name}: {_merge_probe_row(row_name, {})}")
    spark.stop()


def main() -> None:
    from bench import warm_up
    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import graph, similarity
    from poc_parquet_publisher_spark.queries import all_queries
    from poc_parquet_publisher_spark.session import build_session
    from poc_parquet_publisher_spark.telemetry import phase

    # sf1 is 10x the bench scale; the default 1g driver heap OOMs in the
    # parquet writer during edge derivation (single-JVM local mode, the
    # host has 128 GiB). On a real cluster this is per-executor memory.
    spark = build_session(
        app_name="scale_probe",
        extra_conf={"spark.driver.memory": "24g"},
    )
    warm_up(spark)

    # layout parity: the driver's sf0.1 tables are SINGLE parquet files
    # (1-way scan parallelism), the amplified tables are 32 -- timing
    # raw sf0.1 against them mixes layout into the scaling signal (the
    # md5-bound x408 measured 3.6x FASTER at 3x the data that way). The
    # 0.1 point is therefore a 1-copy rewrite through the same writer.
    scales: list[tuple[float, str]] = []
    for sf, copies in SCALES:
        d = os.path.join(SCRATCH, f"sf{sf}")
        print(f"# amplifying {copies}x -> {d}", file=sys.stderr)
        amplify(spark, copies, d)
        scales.append((sf, d))

    queries = dict(all_queries())

    # mnn_align_blocked is an op tier, not a registry entry; probe it on
    # the PLANTED-CORRESPONDENCE workload (planted_sides). This is the
    # workload the tier's contract is about: true pairs ABOVE the
    # max-of-noise ceiling. The rotation-amplified fixture itself is
    # near-uniform in 64-dim, so at sf1.0 92% of its exact MNN pairs are
    # cross-copy max-of-noise artifacts (sims ~0.47 vs a ~0.46 noise
    # ceiling over 9k candidates) -- unrecoverable by ANY sub-quadratic
    # method, and absent from real aligned corpora. Fixture-recall decay
    # documented in SURVEY 4.4d.
    def _mnn_planted_head(spark_, sf_dir):
        # derived (n_centroids, n_probe): ivf_params_for keeps block
        # population constant, the schedule the exponent is about
        return similarity.mnn_align_blocked(*planted_sides(spark_, sf_dir))

    queries["mnn_align_blocked"] = _mnn_planted_head

    # HEADS_ONLY=x447_foo,x329_bar probes a subset and MERGES into the
    # existing SCALE_PROBE.json (wave-2 additions don't re-time wave 1)
    heads = [h for h in os.environ.get("HEADS_ONLY", "").split(",") if h]
    heads = heads or HEADS
    unknown = sorted(set(heads) - set(queries))
    if unknown:
        sys.exit(f"HEADS_ONLY names not in registry: {unknown}")

    results: dict[str, dict] = {}
    # x104's amortized-graph contract: derive the edge table per scale
    # once, timed separately (same split as bench.py)
    if "x104_pagerank" in heads:
        for sf, sf_dir in scales:
            with phase(spark) as ph:
                graph.persist_copurchase_edges(
                    spark,
                    load_table(spark, sf_dir, "lineitem"),
                    graph.copurchase_edge_table_name(sf_dir),
                )
            dt = ph.seconds
            results.setdefault("x104_edge_derivation", {})[str(sf)] = round(
                dt, 3
            )
            print(f"# sf{sf} x104_edge_derivation {dt:.1f}s", file=sys.stderr)

    # Three passes over (scale x head), keeping the per-cell MINIMUM:
    # single runs of 5-30 s entries carry GC pauses and JIT warmup that
    # swamp the data-scaling signal (a first single-pass probe fitted
    # NEGATIVE exponents from that noise); the min isolates the data
    # cost floor the exponent is about.
    for pass_no in range(3):
        for sf, sf_dir in scales:
            for name in heads:
                with phase(spark) as ph:
                    queries[name](spark, sf_dir).count()
                dt = round(ph.seconds, 3)
                cell = results.setdefault(name, {})
                cell[str(sf)] = min(cell.get(str(sf), dt), dt)
                print(
                    f"# pass{pass_no} sf{sf} {name} {dt:.1f}s",
                    file=sys.stderr,
                )

    # planted-correspondence recall per scale for the blocked-MNN tier
    # (one pass; recall is deterministic, unlike the timings)
    mnn_recall: dict[str, float] = {}
    if "mnn_align_blocked" in heads:
        for sf, sf_dir in scales:
            pairs = {
                (r["a_id"], r["b_id"])
                for r in _mnn_planted_head(spark, sf_dir).collect()
            }
            n = load_table(spark, sf_dir, "embeddings").count()
            planted = sum(1 for x, y in pairs if y - PLANTED_OFF == x)
            mnn_recall[str(sf)] = round(planted / n, 3)
            print(
                f"# sf{sf} mnn planted recall {planted}/{n}",
                file=sys.stderr,
            )

    out = {}
    for name, times in results.items():
        slope = _loglog_slope(times)
        out[name] = {"seconds_by_sf": times, "exponent": round(slope, 2)}
        if name == "mnn_align_blocked" and mnn_recall:
            out[name]["planted_recall_by_sf"] = mnn_recall
        print(f"{name}: exponent {slope:.2f}  {out[name]['seconds_by_sf']}")

    probe_path = os.path.join(ROOT, "SCALE_PROBE.json")
    if os.path.exists(probe_path):
        with open(probe_path) as f:
            merged = json.load(f)
        merged.update(out)
        out = merged
    with open(probe_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    if os.environ.get("XCAP"):
        xcap_main()
    else:
        main()
