"""Benchmark harness with the reference's measurement protocol.

Mirrors ``benchmarks/src/util/run.rs`` + ``benchmarks/src/tpch/run.rs``:
wall-clock per query over N iterations (reference default 3,
``options.rs:36-37``), a ``results.json`` artifact with the same shape
(``util/run.rs:64-132,196-210``), and a comparison against the previous run
with 1.2x faster/slower markers (``util/run.rs:212-260``).

Execution is forced with ``_force`` (a frozen collect-based measurement
basis — see its docstring for why not the ``noop`` sink); state isolation
runs between queries (cache eviction) with a full isolation boundary after
each complete pass and after streaming floor blocks.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

FASTER_RATIO = 1.2  # reference util/run.rs:246-252
# Floor passes: after the interleaved passes, EVERY query gets this many
# extra CONSECUTIVE timed iterations. Measured rationale (two back-to-back
# sf0.1 runs): consecutive same-query executions reach a warm floor that
# interleaved passes systematically miss (e.g. events_cube interleaved min
# 284ms, consecutive 208ms; q14 191ms -> 139ms) — re-executing a just-run
# query hits hot JIT'd codegen and cached scan state. A spread-conditional
# version of this was tried first and made runs INCOMPARABLE: whichever run
# happened to trigger more re-runs sampled the floor regime more, producing
# one-sided 1.2-1.6x "regressions" on 13/76 queries with low within-run
# spread. Unconditional floor passes keep the sampled regimes identical
# across runs; the interleaved passes remain the episode defense (a
# multi-minute host slowdown still lands on each query at most once).
# 4 passes, not 2: measured floor blocks were still descending at sample 2
# (dedup_exact 428->272ms, q6 172->134ms, q15 431->288ms), and a block that
# catches a host episode needs surviving samples — with 2, one bad sample
# halves the evidence.
#
# Measured ceiling (three back-to-back sf0.1 pairs): per-query agreement at
# the 1.2x threshold plateaus at 82-86% whatever the per-query protocol —
# the disagreeing set is different each pair, two-sided, and 20-150 ms in
# magnitude on sub-second queries, i.e. residual host jitter, not protocol
# artifacts (the run TOTALS agree within 1%). Per-query regression verdicts
# at 1.2x on sub-second queries are therefore unsupportable on this host by
# construction; the floor-spread flag and the total are the signals that do
# support verdicts. (Round-5 re-measurement on a quiet host, 98 queries:
# 95.9% within 1.2x, all 4 outliers <0.5 s queries with 50-110 ms deltas,
# totals within 1.5% — consistent with the jitter attribution above.)
FLOOR_EXTRA = 4


def _force(df: DataFrame) -> int:
    """Run the plan to completion and return the row count.

    ``collect`` (not ``count``) so every output column is computed — a bare
    count() would let Catalyst prune the aggregate expressions and
    under-measure. All corpus queries return small results (aggregates /
    top-k), so the transfer cost is noise."""
    return len(df.collect())


MEASURE_LAST_TIERS = ("streaming",)  # leaves RocksDB maintenance threads behind


def _measure_last(tier_name: str) -> bool:
    """Substring match so the gate window's streaming tier
    ("window-streaming") gets the same end-of-run isolation as the home
    streaming tier."""
    return any(m in tier_name for m in MEASURE_LAST_TIERS)


SETTLE_SECONDS = 1.0


def _isolate(spark: SparkSession, settle: float = SETTLE_SECONDS) -> None:
    """Tier boundary: evict cached blocks, force shuffle/broadcast cleanup,
    and let background threads drain before the next tier is timed.

    Identical binaries measured 165.7s vs 83.4s across rounds 2/3 with
    per-query swings up to 25x that were STABLE within each run — run-level
    state (accumulated shuffle files, broadcast blocks, pending ContextCleaner
    work riding on driver GC), not per-iteration noise. An explicit System.gc()
    kicks the ContextCleaner's weak-reference queue NOW instead of whenever the
    periodic GC fires mid-measurement."""
    import gc

    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 - isolation is best-effort
        pass
    gc.collect()
    time.sleep(settle)


def run_benchmark(
    spark: SparkSession,
    sf_dir: str,
    tiers: list[tuple[str, dict[str, Callable[[SparkSession, str], DataFrame]]]],
    iterations: int = 1,
    warmup: bool = True,
    warm_epoch: bool = True,
) -> dict:
    """Time every query; returns the reference-shaped results dict.

    Queries run grouped by tier (``(name, {query: fn})`` pairs) with cache
    eviction between queries and a full isolation boundary (forced cleanup
    + settle) after each complete interleaved pass and after streaming
    floor blocks; the tiers named in :data:`MEASURE_LAST_TIERS` move to
    the end so their lingering background threads cannot contaminate batch
    timings.

    ``warm_epoch`` runs EVERY query once, unmeasured, before the measured
    iterations. Measured A/B on this machine: a fresh environment runs the
    first ~4 minutes degraded machine-wide (cold page cache for the multi-GB
    jar/class tree loaded lazily during codegen, cold JIT) — a back-to-back
    rerun of the identical binary went 120.5s -> 68.4s total with q1 at
    5.4s -> 1.0s and ALL of q1's iterations slow in the cold run, so
    per-query warmup cannot fix it; only sustained execution warms the
    machine. One epoch costs one extra pass (~1-2 min) and moves every
    measured iteration into the warm regime — the difference between a
    regression signal and noise when each round benches in a fresh container."""
    tiers = [t for t in tiers if not _measure_last(t[0])] + [
        t for t in tiers if _measure_last(t[0])
    ]
    results = {
        "context": {
            "benchmark_version": "0.1.0",
            "engine": f"pyspark-{spark.version}",
            "num_cpus": os.cpu_count(),
            "start_time": int(time.time()),
            "arguments": {
                "sf_dir": sf_dir,
                "iterations": iterations,
                "cpus": spark.sparkContext.defaultParallelism,
            },
        },
        "queries": [],
    }
    if warmup:
        # Spawn the Python UDF worker pool: the first pandas-UDF query
        # otherwise pays ~30 worker cold starts (measured 22s -> 3s on
        # media_features). Workers are reused afterwards
        # (spark.python.worker.reuse), so this is one-time harness warmup.
        try:
            n = spark.sparkContext.defaultParallelism
            spark.range(n).repartition(n).mapInPandas(
                lambda it: it, "id long"
            ).count()
        except Exception:  # noqa: BLE001 - warmup is best-effort
            pass
    if warm_epoch:
        # Full unmeasured pass in the same tier order (streaming still last,
        # its state-store threads drain during the isolation boundary below).
        for _, tier_queries in tiers:
            for fn in tier_queries.values():
                try:
                    _force(fn(spark, sf_dir))
                except Exception:  # noqa: BLE001 - warmup is best-effort
                    pass
                spark.catalog.clearCache()
        _isolate(spark)
    # INTERLEAVED passes: iteration k of every query runs before iteration
    # k+1 of any query, so a host-level slow episode (measured here:
    # multi-minute throttling windows that degraded 5/5 consecutive
    # iterations of adjacent queries 2-3x while the rest of the run was
    # clean) lands on each query at most once — the per-query min over
    # passes then recovers the uncontaminated cost. Consecutive per-query
    # iterations have no defense against an episode longer than all of them.
    entries: dict[str, dict] = {}
    for tier_name, tier_queries in tiers:
        for name in tier_queries:
            if name in entries:
                # entries are keyed by name alone: a duplicate would run one
                # query twice per pass, merge both tiers' timings under the
                # later tier, and leave a zero-iteration ghost row for the
                # first — fail loudly
                raise ValueError(
                    f"duplicate bench query name {name!r}: tiers "
                    f"{entries[name]['tier']!r} and {tier_name!r}"
                )
            entries[name] = {
                "query": name,
                "tier": tier_name,
                "iterations": [],
                "start_time": int(time.time()),
                "success": True,
            }
            results["queries"].append(entries[name])
    for _pass in range(iterations):
        for tier_name, tier_queries in tiers:
            if not tier_queries:
                continue
            for name, fn in tier_queries.items():
                entry = entries[name]
                if not entry["success"]:
                    continue
                t0 = time.perf_counter()
                try:
                    n = _force(fn(spark, sf_dir))
                    elapsed = time.perf_counter() - t0
                    entry["iterations"].append(
                        {"elapsed_ms": round(elapsed * 1000, 1), "row_count": n}
                    )
                except Exception as exc:  # noqa: BLE001
                    entry["success"] = False
                    entry["error"] = (str(exc).splitlines() or [exc.__class__.__name__])[0][:200]
                # Operators persist() intermediates for within-query reuse
                # (LSH signature tables, etc.). Evict between queries so
                # cached blocks from earlier queries can't skew later
                # timings or accumulate executor memory across the run.
                spark.catalog.clearCache()
        # Streaming runs last in each pass; drain its state-store threads
        # before the next pass's batch queries are timed.
        _isolate(spark)
    # Floor passes: FLOOR_EXTRA consecutive iterations per query, for every
    # query (tier order preserved, so streaming floor passes stay last and
    # cannot contaminate batch timings). See the FLOOR_EXTRA comment for the
    # measured mechanism; the min estimator then reads the warm floor, which
    # both runs of a back-to-back pair can reach.
    if iterations > 1:
        for tier_name, tier_queries in tiers:
            for name, fn in tier_queries.items():
                entry = entries[name]
                if not entry["success"]:
                    continue
                for _ in range(FLOOR_EXTRA):
                    t0 = time.perf_counter()
                    try:
                        n = _force(fn(spark, sf_dir))
                        elapsed = time.perf_counter() - t0
                        entry["iterations"].append(
                            {"elapsed_ms": round(elapsed * 1000, 1), "row_count": n, "floor": True}
                        )
                    except Exception as exc:  # noqa: BLE001
                        entry["success"] = False
                        entry["error"] = (str(exc).splitlines() or [exc.__class__.__name__])[0][:200]
                        break
                    # evict per iteration exactly like the main passes — the
                    # floor regime is JIT/page-cache warmth, not persisted-
                    # intermediate reuse (which would measure a different job)
                    spark.catalog.clearCache()
            if _measure_last(tier_name):
                _isolate(spark)
    return results


def headline_seconds(entry: dict) -> float | None:
    """Headline estimator: MINIMUM over iterations.

    Min, not mean or median: every contamination mechanism observed on this
    host is strictly ADDITIVE (scheduler stalls, GC pauses, state-store
    maintenance, cold caches) and excursions last multiple consecutive
    iterations — measured raw series like ngram_top
    [1058, 11500, 10329, 800, 770] ms move even a median-of-5 by 10x, while
    the minimum estimates the uncontaminated cost and is reachable from both
    runs. A genuine plan regression raises ALL iterations, so the min still
    detects it. Back-to-back agreement: 36% of queries within 1.2x
    (median-of-3, cold), 65% (median-of-3, warm), 86% (median-of-5); the
    headline is now the min over all iterations — the interleaved passes
    plus the FLOOR_EXTRA consecutive floor passes (see FLOOR_EXTRA for the
    measured agreement ceiling). All raw iterations stay in results.json.

    The min structurally masks regressions that raise only SOME iterations
    (intermittent spill, GC pressure from a larger footprint) — which is why
    :func:`compare_runs` reports the :func:`mean_iter_seconds` ratio
    alongside, and ``bench.py`` flags on stderr every query whose
    :func:`floor_spread` exceeds the 1.2x reference threshold."""
    its = entry.get("iterations") or []
    if not its:
        return None
    return min(i["elapsed_ms"] for i in its) / 1000.0


def mean_iter_seconds(entry: dict) -> float | None:
    """Arithmetic mean over iterations — the reference's estimator
    (BenchQuery::avg, reference benchmarks/src/util/run.rs:263-270).
    Reported alongside the min so a min-stable/mean-degraded query (the
    intermittent-regression class the min cannot see) is visible."""
    its = entry.get("iterations") or []
    if not its:
        return None
    return sum(i["elapsed_ms"] for i in its) / len(its) / 1000.0


def floor_spread(entry: dict) -> float | None:
    """max/min over the consecutive FLOOR iterations only. The headline min
    almost always comes from the floor block, so this is the direct
    stability signal: beyond the reference's 1.2x regression threshold
    (util/run.rs:246-252) it means an episode hit the floor block and this
    query's headline cannot support a regression verdict at that
    threshold."""
    vals = [i["elapsed_ms"] for i in entry.get("iterations") or [] if i.get("floor")]
    if len(vals) < 2:
        return None
    lo = min(vals)
    return round(max(vals) / lo, 2) if lo > 0 else None


PER_QUERY_CHUNK_CHARS = 1000


def chunked_ms_lines(
    headline: dict[str, float], limit: int = PER_QUERY_CHUNK_CHARS
) -> list[str]:
    """Encode the per-query headline map as integer-millisecond JSON lines
    of at most ``limit`` characters each. The driver keeps only the last
    2000 characters of stdout, and the whole map at 124 queries is about
    2.4 KB, so no single line can carry it.

    Each line is a self-contained JSON object
    ``{"detail": "per_query_ms", "part": i, "of": n, "queries": {...}}``
    that parses independently of its siblings: the tail window keeps the
    END of stdout, so the later chunks always survive whole and a
    truncated run still yields per-query data for every chunk inside the
    window. Values are ``int(round(seconds * 1000))``. Greedy first-fit
    packing preserves bench execution order (tier order), so chunk
    membership is stable round-over-round while the surface is.
    ``results.json`` stays the complete per-query record."""
    items = [(name, int(round(s * 1000))) for name, s in headline.items()]

    def _line(part: int, of: int, chunk: list[tuple[str, int]]) -> str:
        return json.dumps(
            {"detail": "per_query_ms", "part": part, "of": of, "queries": dict(chunk)},
            separators=(",", ":"),
        )

    def _pack(widest: int) -> list[list[tuple[str, int]]]:
        chunks: list[list[tuple[str, int]]] = []
        cur: list[tuple[str, int]] = []
        for item in items:
            if cur and len(_line(widest, widest, cur + [item])) > limit:
                chunks.append(cur)
                cur = []
            cur.append(item)
        if cur:
            chunks.append(cur)
        return chunks

    # budget "part"/"of" at their real width: repack with one more digit
    # until the chunk count fits the width it was packed for
    widest = 9
    chunks = _pack(widest)
    while len(chunks) > widest:
        widest = widest * 10 + 9
        chunks = _pack(widest)
    n = len(chunks)
    return [_line(i + 1, n, c) for i, c in enumerate(chunks)]


def compare_runs(current: dict, previous: dict) -> list[str]:
    """Previous-run comparison lines (reference util/run.rs:212-260).

    Each line carries BOTH estimators: the min-based headline ratio and the
    mean-over-iterations ratio. The min structurally masks regressions that
    raise only SOME iterations (intermittent spill, GC pressure from a
    larger footprint — the additive-contamination class), so a query whose
    mean regresses past the 1.2x reference threshold while its min doesn't
    is flagged ``MEAN-REGRESSED`` explicitly instead of reading as silently
    green.

    A PARTIAL previous run (produced under ``SPARK_GRAFT_BENCH_ONLY``) is
    REFUSED as a baseline: its warm-epoch ran only the filtered queries, so
    machine warmth — the dominant timing factor this harness spends a full
    unmeasured epoch controlling — differed, and ratios against it would
    read as phantom regressions/improvements.

    A previous run made at another scale (``sf_dir``) or width (``cpus``,
    the session's ``defaultParallelism``) is refused too: its timings
    measure different work. A value only one run records is not compared,
    so a baseline written before ``cpus`` was recorded still compares."""
    partial = previous.get("context", {}).get("partial")
    if partial:
        return [
            "previous results.json is a PARTIAL run "
            f"(SPARK_GRAFT_BENCH_ONLY={','.join(partial)}); regression "
            "comparison refused — rerun the full bench to re-establish a "
            "baseline"
        ]
    cur_args = current.get("context", {}).get("arguments", {})
    prev_args = previous.get("context", {}).get("arguments", {})
    for key in ("sf_dir", "cpus"):
        cur_v, prev_v = cur_args.get(key), prev_args.get(key)
        if cur_v is not None and prev_v is not None and cur_v != prev_v:
            return [
                f"previous results.json ran with {key}={prev_v}, this run "
                f"with {key}={cur_v}; regression comparison refused"
            ]
    prev = {q["query"]: q for q in previous.get("queries", [])}
    lines = []
    for q in current["queries"]:
        name = q["query"]
        cur_s = headline_seconds(q)
        prev_s = headline_seconds(prev.get(name, {}))
        if cur_s is None or prev_s is None or cur_s <= 0 or prev_s <= 0:
            # prev_s == 0 too: a zero previous floor (hand-trimmed or
            # sub-resolution artifact) would hit 1/ratio below
            continue
        ratio = prev_s / cur_s
        if ratio >= FASTER_RATIO:
            mark = f"+{ratio:.2f}x faster"
        elif ratio <= 1 / FASTER_RATIO:
            mark = f"-{1 / ratio:.2f}x slower"
        else:
            mark = "no change"
        cur_m = mean_iter_seconds(q)
        prev_m = mean_iter_seconds(prev.get(name, {}))
        mean_note = ""
        if cur_m and prev_m and cur_m > 0:
            mean_ratio = prev_m / cur_m
            mean_note = f" [mean {cur_m * 1000:.1f} ms, {mean_ratio:.2f}x]"
            if mean_ratio <= 1 / FASTER_RATIO and ratio > 1 / FASTER_RATIO:
                mean_note += " MEAN-REGRESSED"
        lines.append(
            f"{name}: {cur_s * 1000:.1f} ms (prev {prev_s * 1000:.1f} ms) {mark}{mean_note}"
        )
    return lines


def write_results(results: dict, output: str | Path, baseline: str | Path) -> None:
    """Print the comparison against ``baseline`` (when it exists) to stderr,
    then write ``results`` to ``output``. A partial run passes the full-run
    ``results.json`` as its baseline and writes a separate file, so the
    full-run baseline is never overwritten by a partial one."""
    baseline = Path(baseline)
    if baseline.exists():
        try:
            previous = json.loads(baseline.read_text())
            for line in compare_runs(results, previous):
                print(line, file=sys.stderr)
        except Exception:  # noqa: BLE001 - stale/corrupt previous file
            pass
    Path(output).write_text(json.dumps(results, indent=2))
