#!/usr/bin/env python
"""Optimized plan of every registry entry, one file per entry.

Builds each entry against <sf_dir> (the builder call only; nothing is
run on its result) and writes ``<out_dir>/<name>.txt`` with the
optimized logical plan. Run ids are normalized away so two trees that
build the same plan write the same bytes:

- expression ids (``#123``, ``#123L``) and lambda variable suffixes,
- RDD ids (``[123]`` after an RDD class name),
- temporary directories and ``drain_<uuid>`` memory-sink names.

The distinct-aggregate rewrite orders its ``Expand`` groups by what the
session built before, so the entries in ``FRESH`` are each built in a
process of their own.

Usage (plan identity of two trees):
  python scripts/plan_snapshot.py <sf_dir> <out_a>    # in tree A
  python scripts/plan_snapshot.py <sf_dir> <out_b>    # in tree B
  diff -r <out_a> <out_b>
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

FRESH = (
    "x43_profile_numeric",
    "x64_dataset_card",
    "x125_ab_lift",
    "x250_schema_drift",
    "x258_collation_distinct",
    "x335_stem_profile",
)

_NORMALIZE = (
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/T"),
    (re.compile(r"\bdrain_[0-9a-f]{32}\b"), "drain_N"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def snapshot(names: list[str], sf_dir: str, out_dir: str) -> None:
    from poc_parquet_publisher_spark.queries import all_queries
    from poc_parquet_publisher_spark.session import build_session

    queries = all_queries()
    unknown = sorted(set(names) - set(queries))
    if unknown:
        sys.exit(f"not in registry: {unknown}")
    spark = build_session(app_name="plan_snapshot")
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:  # the failure is the entry's snapshot
            plan = f"BUILD FAILED: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalize(plan) + "\n")
        print(name, file=sys.stderr)
    spark.stop()


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    if only:
        snapshot(only, sf_dir, out_dir)
        return

    from poc_parquet_publisher_spark.queries import all_queries

    names = list(all_queries())
    snapshot([n for n in names if n not in FRESH], sf_dir, out_dir)
    for name in FRESH:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, out_dir, name],
            check=True,
        )


if __name__ == "__main__":
    main()
