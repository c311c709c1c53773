#!/usr/bin/env python
"""Driver-facing benchmark entry point.

Runs every query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data) on
``local[$SPARK_GRAFT_CPUS]``.

``results.json`` next to this file is the authoritative per-query record:
every iteration of every query, in the reference's shape (protocol of
reference ``benchmarks/src/util/run.rs:64-132,196-210``). A partial run
(``--query``) writes ``results.partial.json`` instead. Both compare against
the previous full-run ``results.json`` first.

Stdout carries only JSON: the ``per_query_ms`` chunks (see
``chunked_ms_lines``), then one final metric line

    {"metric":"total_query_seconds","value":N,"unit":"sec","sf":0.1,"n_queries":124}

The previous-run comparison and the floor-spread flag go to stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _parse_cli_into_env(argv: list[str]) -> None:
    """Reference CLI parity (benchmarks/src/util/options.rs:36-59,90-115 and
    benchmarks/src/tpch/run.rs:140-143): the reference drives its harness
    with flags; this repo's knobs are env vars so the grading driver's bare
    ``python bench.py`` stays the canonical invocation. Each flag simply
    sets the matching env var (explicit env wins — flags never override an
    externally-set value, so wrappers composing both behave predictably)."""
    import argparse

    p = argparse.ArgumentParser(description=__doc__)
    flag_to_env = {
        "iterations": "SPARK_GRAFT_BENCH_ITERATIONS",  # --iterations N
        "query": "SPARK_GRAFT_BENCH_ONLY",  # --query q9,bm25_topk
        "sf_dir": "SPARK_GRAFT_SF_DIR",
        "cpus": "SPARK_GRAFT_CPUS",
    }
    p.add_argument("--iterations", type=int, help="timed iterations per query")
    p.add_argument("--query", help="comma-separated query subset (partial run)")
    p.add_argument("--sf-dir", help="scale-factor data directory")
    p.add_argument("--cpus", help="local[N] parallelism")
    args = p.parse_args(argv)
    for flag, env in flag_to_env.items():
        val = getattr(args, flag)
        # identity checks, not `in (None, False)`: 0 == False in Python, so
        # a membership test would silently drop a legitimate 0-valued flag
        if val is None or val is False:
            continue
        os.environ.setdefault(env, "1" if val is True else str(val))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Reference default is 3 iterations (benchmarks/src/util/options.rs:36-37);
    # we default to 5: with occasional multi-second scheduler stalls on this
    # host, a median of 3 moves whenever ONE iteration stalls — measured
    # back-to-back agreement at 3 iterations was 65% of queries within 1.2x;
    # the median of 5 tolerates two stalled iterations.
    iterations = int(os.environ.get("SPARK_GRAFT_BENCH_ITERATIONS", "5"))

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark import build_session
    from datafusion_distributed_experiment_spark.bench import (
        FASTER_RATIO,
        chunked_ms_lines,
        floor_spread,
        headline_seconds,
        run_benchmark,
        write_results,
    )

    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        app_name="bench",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    tiers = entry_mod.query_tiers()
    # Reference --query N analog (benchmarks/src/tpch/run.rs:140-143,
    # benchmarks/src/util/options.rs): SPARK_GRAFT_BENCH_ONLY=q9,bm25_topk
    # restricts the run to the named queries. Tier membership is preserved,
    # so run_benchmark's measure-last rule still pushes streaming-named
    # tiers to the end. The run is marked PARTIAL in results.partial.json:
    # compare_runs refuses to use a partial file as a regression baseline
    # (its warm-epoch composition differs, so its timings are not
    # comparable run-over-run).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        unknown = wanted - {n for _, qs in tiers for n in qs}
        if unknown:
            print(
                f"SPARK_GRAFT_BENCH_ONLY names not in the query surface: "
                f"{sorted(unknown)}",
                file=sys.stderr,
            )
            return 2
        tiers = [
            (t, {n: fn for n, fn in qs.items() if n in wanted}) for t, qs in tiers
        ]
        tiers = [t for t in tiers if t[1]]
    results = run_benchmark(spark, sf_dir, tiers, iterations=iterations)
    # A partial run writes its own file, so the full-run results.json stays
    # the baseline; compare_runs refuses a partial baseline.
    here = os.path.dirname(os.path.abspath(__file__))
    output = "results.json"
    if only:
        results["context"]["partial"] = sorted(wanted)
        output = "results.partial.json"
    write_results(
        results, os.path.join(here, output), os.path.join(here, "results.json")
    )

    headline = {}
    unstable = {}
    for q in results["queries"]:
        s = headline_seconds(q)
        if s is not None:
            headline[q["query"]] = s
        r = floor_spread(q)
        if r is not None and r > FASTER_RATIO:
            unstable[q["query"]] = r
    if unstable:
        print(
            "floor-spread>1.2x (headline cannot support a regression verdict "
            "at the 1.2x threshold): "
            + ", ".join(
                f"{n}={unstable[n]}x" for n in sorted(unstable, key=lambda n: -unstable[n])
            ),
            file=sys.stderr,
        )
    for line in chunked_ms_lines(headline):
        print(line)
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": round(sum(headline.values()), 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(headline),
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    _parse_cli_into_env(sys.argv[1:])
    raise SystemExit(main())
