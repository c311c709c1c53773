#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client, one query at a time.

    python3 perfbench/run.py --workload curate_ops --seed 1 --seconds 3 --trace 0

Run from the repository root. One run:

1. generates the workload's tables from ``--seed`` under ``.perfbench_state/``;
2. sets up three times (build the session, register the tables through
   ``Engine.register_sf_dir``, spawn the Python worker pool) and reports the
   median as ``setup_s``;
3. runs one unmeasured warm-up pass, then computes every output's DuckDB
   oracle expectation (row count, column names, order-insensitive hash);
4. runs at least two timed passes over the query list, and more until
   ``--seconds`` have passed, checking every output against its oracle.

Between queries, outside the timed region, it evicts cached frames and the
dedup pair-graph memo.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
stderr gets a readable summary, ``fail_rate`` included. With ``--trace 1``
traced passes are interleaved between the untraced ones; the last line
carries the per-layer metrics of the traced passes and ``trace.overhead``,
the traced over the untraced median pass time, minus 1. ``--detail FILE``
also writes every traced query's layer record as JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datafusion_distributed_experiment_spark"
SETUPS = 3
WARMUP_PASSES = 1
TIMED_PASSES = 2
DRIVER_MEM = "4g"


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--detail", help="write traced per-query records to this JSON file")
    return p.parse_args(argv)


def _isolate(state: str, cores: int) -> None:
    """Point every place the package and Spark write to inside ``state``,
    and size the session to the host. Must run before pyspark starts."""
    for d in ("tmp", "warehouse", "sql-warehouse", "spark-local"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    # every JVM (launcher and driver) keeps its temp files in the state
    # directory and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(state, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # UDF workers import the package by name wherever the run starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT]


def _stop_jvm() -> None:
    """End the gateway JVM and wait for it, so the run leaves no process
    behind: the JVM exits on EOF on its stdin (its Python workers stop with
    the SparkContext)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _digest(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive hash) — the canonicalization
    of ``scripts/verify_correctness.py``."""
    from tests._compare import canonical

    cols = sorted(pdf.columns)
    body = "\x1e".join("\x1f".join(row) for row in canonical(pdf))
    h = hashlib.sha256(f"{','.join(cols)}\x1e{body}".encode()).hexdigest()[:16]
    return len(pdf), cols, h


class Bench:
    def __init__(self, workload, data_dir: str, state: str, cores: int):
        self.w = workload
        self.data_dir = data_dir
        self.state = state
        self.cores = cores
        self.spark = None
        self.fns: dict = {}
        self.expected: dict[str, tuple] = {}
        self.digests: list[tuple[str, tuple | None]] = []  # (query, digest or None on error)
        self.errors: dict[str, str] = {}

    # ---------------------------------------------------------------- setup
    def setup(self) -> dict[str, float]:
        """Build the session, register the tables, spawn the UDF workers."""
        from datafusion_distributed_experiment_spark import Engine, build_session

        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.state, "sql-warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        engine = Engine(spark)
        failures = engine.register_sf_dir(self.data_dir)
        if failures:
            raise RuntimeError(f"table registration failed: {failures}")
        t2 = time.perf_counter()
        spark.range(self.cores).repartition(self.cores).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        t3 = time.perf_counter()
        import workloads

        self.spark = spark
        self.fns = workloads.callables(self.w, engine)
        return {"total": t3 - t0, "session.start_s": t1 - t0, "sources.register_s": t2 - t1}

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ---------------------------------------------------------------- passes
    def _evict(self) -> None:
        """Give every query the same starting state: no cached frames and no
        memoized pair graphs."""
        from datafusion_distributed_experiment_spark.operators.dedup import (
            clear_pair_graph_memo,
        )

        self.spark.catalog.clearCache()
        clear_pair_graph_memo()

    def run_query(self, name: str, reader=None):
        """Run one query; returns (latency_s, QueryTrace or None). Traced
        runs set a job group, force the executed plan before the collect
        (``engine.plan_s``) and read the status stores afterwards."""
        spark, fn = self.spark, self.fns[name]
        sc = spark.sparkContext
        if reader is not None:
            sc.setJobGroup(f"perfbench:{self.w.name}:{name}", name)
        pdf, build_s, plan_s = None, 0.0, 0.0
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = fn(spark, self.data_dir)
            build_s = time.perf_counter() - t0
            if reader is not None:
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t0 - build_s
            pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - counted as a failed run
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
        dt = time.perf_counter() - t0
        trace = None
        if reader is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rows = 0 if pdf is None else len(pdf)
            trace = reader.read(name, 1e3 * w0, 1e3 * (w0 + build_s), 1e3 * (w0 + dt), plan_s, rows)
        self._evict()
        self.digests.append((name, None if pdf is None else _digest(pdf)))
        return dt, trace

    def run_pass(self, reader=None):
        lat, traces = [], []
        if reader is not None:
            reader.sync()
        for name in self.w.queries:
            dt, tr = self.run_query(name, reader)
            lat.append(dt)
            if tr is not None:
                traces.append(tr)
        return lat, traces

    # ---------------------------------------------------------------- oracle
    def compute_oracles(self) -> None:
        """DuckDB expectations over the same parquet files. Run after the
        warm-up pass: the index oracles read the index it persisted."""
        import datagen
        import duckdb
        import workloads

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.state, 'tmp')}'")
        for t in datagen.TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        for name, sql in workloads.oracles(self.w).items():
            self.expected[name] = _digest(con.execute(sql).df())
        con.close()

    def failed_runs(self) -> list[str]:
        """Query runs that raised or whose output missed the oracle."""
        return [name for name, d in self.digests if d is None or d != self.expected.get(name)]


def _run(args: argparse.Namespace) -> dict:
    T0 = time.perf_counter()
    import datagen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    state = os.path.join(ROOT, ".perfbench_state", f"{w.name}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    _isolate(state, cores)
    data_dir = os.path.join(state, "data")
    datagen.generate(data_dir, args.seed, w.sizes, row_groups=w.row_groups)

    bench = Bench(w, data_dir, state, cores)
    phases = {"datagen": time.perf_counter() - T0}
    try:
        # peak RSS counts the program, not the data generation above
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        setups = []
        for i in range(SETUPS):
            if i:
                bench.teardown()
            setups.append(bench.setup())
        phases["setups"] = time.perf_counter() - T0 - sum(phases.values())
        jvm_pid = bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        for _ in range(WARMUP_PASSES):
            bench.run_pass()
        phases["warmup"] = time.perf_counter() - T0 - sum(phases.values())
        bench.compute_oracles()
        phases["oracles"] = time.perf_counter() - T0 - sum(phases.values())

        reader = None
        if args.trace:
            import layers as tracing

            reader = tracing.StatusReader(bench.spark)
        # a fixed pass count keeps every run at the same points of the JIT
        # warm-up curve; --seconds only ever adds passes
        plain, traced, traced_pass = [], [], []  # per pass: latencies, QueryTraces
        start = time.perf_counter()
        while len(plain) < TIMED_PASSES or time.perf_counter() - start < args.seconds:
            if reader is not None and plain:  # untraced and traced passes alternate
                lat, trs = bench.run_pass(reader)
                traced.append(trs)
                traced_pass.append(sum(lat))
            plain.append(bench.run_pass()[0])
        peak_mb = (_hwm_kb(jvm_pid) + _hwm_kb("self")) / 1024.0
        phases["timed"] = time.perf_counter() - T0 - sum(phases.values())
    finally:
        bench.teardown()
        _stop_jvm()
        shutil.rmtree(state, ignore_errors=True)
    phases["teardown"] = time.perf_counter() - T0 - sum(phases.values())

    bad = bench.failed_runs()
    e2e = _end_to_end(setups, plain)
    peak = {"peak_rss_mb": (peak_mb, "MB")}
    summary = _summary(w, args.seed, bench, bad, {**e2e, **peak}, plain, phases, setups)
    print("\n".join(summary), file=sys.stderr)
    if args.trace:
        metrics = _per_layer(setups, traced, traced_pass, plain, cores, peak_mb)
        if args.detail:
            with open(args.detail, "w") as f:
                records = [[{"query": t.name, **t.layers, "batch_ms": t.batch_ms} for t in p] for p in traced]
                json.dump(records, f, indent=1)
    else:
        metrics = e2e
    return {
        "correct": not bad,
        "attempted": len(bench.digests),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _end_to_end(setups: list[dict], plain: list[list[float]]) -> dict:
    """The checked end-to-end metrics. ``peak_rss_mb`` is printed with them
    but reported as a layer metric: JVM heap growth makes it bimodal from
    run to run (IQR up to 0.26 of the median over 10 seeds)."""
    pooled = [x for lat in plain for x in lat]
    return {
        "setup_s": (statistics.median(s["total"] for s in setups), "s"),
        "pass_s": (statistics.median(sum(lat) for lat in plain), "s"),
        "query_p50_s": (statistics.median(pooled), "s"),
        "query_p90_s": (statistics.quantiles(pooled, n=10, method="inclusive")[8], "s"),
    }


def _per_layer(setups, traced, traced_pass, plain, cores, peak_mb) -> dict:
    """Per-pass layer totals, median over the traced passes (the counts
    are equal across passes)."""
    import layers as tracing

    per_pass = [tracing.pass_layers(trs) for trs in traced]
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["engine.occupancy"] = tracing.occupancy(
        out["engine.executor_run_s"], out["engine.job_busy_s"], cores
    )
    out["session.start_s"] = statistics.median(s["session.start_s"] for s in setups)
    out["sources.register_s"] = statistics.median(s["sources.register_s"] for s in setups)
    plain_pass = statistics.median(sum(lat) for lat in plain)
    out["trace.overhead"] = statistics.median(traced_pass) / plain_pass - 1.0
    out["engine.peak_rss_mb"] = peak_mb
    return {k: (out[k], u) for k, u in tracing.UNITS.items()}


def _summary(w, seed, bench, bad, e2e, plain, phases, setups) -> list[str]:
    """Readable report for stderr: phases, all six end-to-end metrics with
    ``fail_rate``, per-query medians and the failures."""
    n = len(bench.digests)
    lines = [
        f"{w.name} seed={seed} passes={len(plain)} queries/pass={len(w.queries)}",
        "  phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()),
        "  setups: " + " ".join(f"{s['total']:.2f}s" for s in setups),
    ]
    lines += [f"  {k:<14} {v:>12.4f} {u}" for k, (v, u) in e2e.items()]
    lines.append(f"  {'fail_rate':<14} {len(bad) / max(1, n):>12.4f} ratio ({len(bad)}/{n} runs)")
    for j, name in enumerate(w.queries):
        runs = " ".join(f"{lat[j]:.2f}" for lat in plain)
        lines.append(f"  {name:<24} median {statistics.median(lat[j] for lat in plain):.3f} s  [{runs}]")
    lines += [f"  FAILED {q}: {bench.errors.get(q, 'output does not match the oracle')}" for q in sorted(set(bad))]
    return lines


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    result = _run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
