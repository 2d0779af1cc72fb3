#!/usr/bin/env python
"""Per-entry profiler for the optimization rounds (guide section 1).

For each named registry entry, against $SPARK_GRAFT_SF_DIR:

- writes `plans/<tag>/<name>_<suffix>.txt` with explain("formatted"),
- times each run as two ``telemetry.phase`` blocks, the builder call
  and the bench's df.count(), with the jobs, stages, tasks, CPU,
  shuffle and spill of each,
- lists the last run's stages from the status store, so the time can
  be attributed to scan / exchange / python stages with the UI off,
- optionally re-times with the noop sink (guide 1.4) to separate the
  computation from collect/count pruning effects.

Usage:
  python scripts/profile_entry.py x408_lsh_tuning_curve x447_heaps_law_fit \
      [--runs 3] [--tag r12] [--suffix before] [--noop]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _summary(p) -> dict:
    return {
        "s": round(p.seconds, 3),
        "jobs": p.jobs,
        "stages": p.stages,
        "tasks": p.tasks,
        "cpu_s": round(p.cpu_s, 3),
        "shuffle_mb": round(p.shuffle_mb, 2),
        "spill_mb": round(p.spill_mb, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import warm_up
    from poc_parquet_publisher_spark.queries import all_queries
    from poc_parquet_publisher_spark.session import build_session
    from poc_parquet_publisher_spark.telemetry import phase

    spark = build_session(
        app_name="profile", extra_conf={"spark.driver.memory": "4g"}
    )

    queries = all_queries()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        sys.exit(f"not in registry: {unknown}")

    # bench.py's warm-up, so run 1 is comparable
    warm_up(spark)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(plans_dir, exist_ok=True)

    report = {}
    for name in args.names:
        fn = queries[name]

        # --- planning cost: fn() + force executedPlan
        with phase(spark) as build:
            df = fn(spark, sf_dir)
        t0 = time.perf_counter()
        plan_txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        t_plan = time.perf_counter() - t0
        with open(
            os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
        ) as f:
            f.write(plan_txt)

        # --- bench-comparable runs: a fresh df per run (a
        # localCheckpoint inside the query must not carry across runs),
        # built and executed as bench.py does. With AQE a
        # localCheckpoint(eager=False) inside fn() runs jobs at build
        # time, so the build phase is part of each run's cost.
        runs = []
        for _ in range(args.runs):
            with phase(spark) as run_build:
                df_i = fn(spark, sf_dir)
            with phase(spark) as run_exec:
                if args.noop:
                    df_i.write.format("noop").mode("overwrite").save()
                else:
                    df_i.count()
            runs.append(
                {"build": _summary(run_build), "exec": _summary(run_exec)}
            )

        runs_s = [round(r["build"]["s"] + r["exec"]["s"], 3) for r in runs]
        report[name] = {
            "build_s": round(build.seconds, 3),
            "plan_s": round(t_plan, 3),
            "runs_s": runs_s,
            "runs": runs,
            "stages_last_run": run_build.per_stage + run_exec.per_stage,
        }
        print(
            f"# {name}: build {build.seconds:.2f}s plan {t_plan:.2f}s "
            f"runs {runs_s} jobs "
            f"{[r['build']['jobs'] + r['exec']['jobs'] for r in runs]}"
        )

    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
