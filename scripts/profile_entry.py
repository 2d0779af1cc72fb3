#!/usr/bin/env python
"""Per-entry profiler for the optimization rounds (guide section 1).

For each named registry entry, against $SPARK_GRAFT_SF_DIR:

- writes `plans/<tag>/<name>_<suffix>.txt` with explain("formatted"),
- times plan construction (fn call + executedPlan force) separately
  from execution (the bench's df.count()),
- pulls per-stage wall/metrics from the live UI REST API so the time
  can be attributed to scan / exchange / python stages,
- optionally re-times with the noop sink (guide 1.4) to separate the
  computation from collect/count pruning effects.

Usage:
  python scripts/profile_entry.py x408_lsh_tuning_curve x447_heaps_law_fit \
      [--runs 3] [--tag r12] [--suffix before] [--noop] [--no-stages]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _rest(port: int, path: str):
    url = f"http://localhost:{port}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--no-stages", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import warm_up
    from poc_parquet_publisher_spark.queries import all_queries
    from poc_parquet_publisher_spark.session import build_session

    spark = build_session(
        app_name="profile",
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.ui.enabled": "false" if args.no_stages else "true",
        },
    )
    sc = spark.sparkContext
    ui_port = None
    if not args.no_stages:
        ui_port = int(sc.uiWebUrl.rsplit(":", 1)[1]) if sc.uiWebUrl else None
        app_id = sc.applicationId

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
        sc.setJobDescription(f"profile:{name}")

        # --- planning cost: fn() + force executedPlan
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
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

        # --- execution, bench-identical action (fresh df per run: a
        # localCheckpoint inside the query must not carry across runs)
        # bench-comparable runs: fn() + action timed TOGETHER, because
        # with AQE a localCheckpoint(eager=False) inside fn() executes
        # every stage but the last at plan-build time (toRdd
        # materializes the adaptive plan) -- timing only the action
        # would miss most of such an entry's cost.
        runs = []
        stage_windows = []
        for i in range(args.runs):
            jobs_before = (
                _rest(ui_port, f"applications/{app_id}/jobs")
                if ui_port
                else []
            )
            before_ids = {j["jobId"] for j in jobs_before}
            t0 = time.perf_counter()
            df_i = fn(spark, sf_dir)
            if args.noop:
                df_i.write.format("noop").mode("overwrite").save()
            else:
                df_i.count()
            runs.append(round(time.perf_counter() - t0, 3))
            if ui_port:
                jobs = _rest(ui_port, f"applications/{app_id}/jobs")
                new_jobs = [
                    j for j in jobs if j["jobId"] not in before_ids
                ]
                stage_ids = sorted(
                    sid for j in new_jobs for sid in j["stageIds"]
                )
                stage_windows.append((i, stage_ids))

        stages_out = []
        if ui_port and stage_windows:
            # report stages of the LAST run (steady state)
            _, stage_ids = stage_windows[-1]
            all_stages = _rest(
                ui_port, f"applications/{app_id}/stages?status=complete"
            )
            by_id = {}
            for s in all_stages:
                by_id.setdefault(s["stageId"], s)
            for sid in stage_ids:
                s = by_id.get(sid)
                if not s:
                    continue
                stages_out.append(
                    {
                        "stage": sid,
                        "name": s["name"].split("\n")[0][:80],
                        "tasks": s["numCompleteTasks"],
                        "run_ms": s.get("executorRunTime", 0),
                        "cpu_ms": round(
                            s.get("executorCpuTime", 0) / 1e6, 1
                        ),
                        "shuffle_read_mb": round(
                            s.get("shuffleReadBytes", 0) / 1e6, 2
                        ),
                        "shuffle_write_mb": round(
                            s.get("shuffleWriteBytes", 0) / 1e6, 2
                        ),
                        "input_mb": round(
                            s.get("inputBytes", 0) / 1e6, 2
                        ),
                        "spill_mb": round(
                            s.get("memoryBytesSpilled", 0) / 1e6, 2
                        ),
                        "wall_s": round(
                            (
                                _ms(s.get("completionTime"))
                                - _ms(s.get("firstTaskLaunchedTime"))
                            )
                            / 1000.0,
                            3,
                        )
                        if s.get("completionTime")
                        and s.get("firstTaskLaunchedTime")
                        else None,
                    }
                )

        report[name] = {
            "build_s": round(t_build, 3),
            "plan_s": round(t_plan, 3),
            "runs_s": runs,
            "stages_last_run": stages_out,
        }
        print(f"# {name}: build {t_build:.2f}s plan {t_plan:.2f}s runs {runs}")
        sc.setJobDescription(None)

    print(json.dumps(report, indent=1))
    spark.stop()


def _ms(iso: str | None) -> float:
    if not iso:
        return 0.0
    from datetime import datetime

    return (
        datetime.strptime(iso.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .timestamp()
        * 1000
    )


if __name__ == "__main__":
    main()
