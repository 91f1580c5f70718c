#!/usr/bin/env python
"""Isolated per-query timing + plan capture for optimization rounds.

Usage:
    python docs/time_queries.py NAME [NAME ...] [--reps 5] [--explain DIR --suffix before]

Times each named catalog query through the same methodology as bench.py
(noop sink, blocking unpersist of the query's own localCheckpoint RDDs
outside the timed window) but isolated, with --reps executions per query,
printing each rep plus the min. With --explain DIR, also writes the
.explain("formatted") output to DIR/<name>_<suffix>.txt.

Exists so a candidate optimization can be A/B-timed in ~30 s instead of a
14-minute full-catalog sweep; the full bench still cuts the record.
"""

from __future__ import annotations

import argparse
import os
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--explain", default=None, help="directory for plan dumps")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from tmapreduce_spark.catalog import build_catalog
    from tmapreduce_spark.plans.explain import physical_plan
    from tmapreduce_spark.session import get_spark, noop_run, release_rdds

    spark = get_spark(app_name="tmapreduce-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = build_catalog()
    unknown = [n for n in args.names if n not in catalog]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # same warmup as bench.py
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    spark.sparkContext.parallelize(range(64), 32).map(lambda x: x).count()

    for name in args.names:
        spec = catalog[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = spec.fn(spark, SF_DIR)
            with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(physical_plan(df))
            # a fresh plan per timed rep below; drop any checkpoint RDDs the
            # explain build pinned
            release_rdds(spark)
        spark.sparkContext.setJobDescription(f"time: {name}")
        reps = [noop_run(spark, spec.fn, SF_DIR) for _ in range(args.reps)]
        spark.sparkContext.setJobDescription(None)
        rep_s = " ".join(f"{t:.3f}" for t in reps)
        print(f"{name}: min={min(reps):.3f}  reps=[{rep_s}]")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
