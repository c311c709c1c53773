#!/usr/bin/env python
"""Ad-hoc phase profiler for the optimization round (guide §1: measure
first). Runs a query N times on the bench session shape and prints per-run
wall seconds; with --phases, prints a per-Spark-job breakdown by attaching a
job-description listener via setJobDescription around labelled regions.

Usage:
    python scripts/profile_phases.py ivf_pq_index_upsert [--n 3]
    python scripts/profile_phases.py bpe_apply --noop   # time noop sink too
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("query")
    p.add_argument("--n", type=int, default=3)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--noop", action="store_true", help="also time the noop sink")
    p.add_argument("--jobs", action="store_true", help="print per-job times from the status tracker")
    args = p.parse_args()

    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark import build_session
    from datafusion_distributed_experiment_spark.bench import _force

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        app_name="profile",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    fn = entry_mod.queries()[args.query]

    # warm-up (unmeasured): python worker pool + JIT + page cache
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long").count()
    try:
        _force(fn(spark, args.sf_dir))
    except Exception as exc:  # noqa: BLE001
        print(f"warmup failed: {exc}")
        return 1
    spark.catalog.clearCache()

    tracker = spark.sparkContext.statusTracker()
    for i in range(args.n):
        group = f"profile-{args.query}-{i}"
        spark.sparkContext.setJobGroup(group, args.query)
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        t_build = time.perf_counter()
        rows = len(df.collect())
        t1 = time.perf_counter()
        line = (
            f"run {i}: total {t1 - t0:7.3f}s  build {t_build - t0:7.3f}s "
            f"collect {t1 - t_build:7.3f}s  rows {rows}"
        )
        if args.noop:
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            line += f"  noop {t3 - t2:7.3f}s"
        print(line, flush=True)
        if args.jobs:
            jobs = sorted(tracker.getJobIdsForGroup(group) or [])
            parts = []
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    parts.append(str(len(info.stageIds)))
            print(f"  jobs this run: {len(jobs)} (stages per job: {','.join(parts)})")
        spark.sparkContext.setJobGroup(f"cleanup-{i}", "cleanup")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
