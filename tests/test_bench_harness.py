"""Unit tests for the bench harness logic (no JVM): interleaved pass order,
failure isolation, min/floor-spread estimators, measure-last tier ordering,
and the stdout contract of ``bench.py``."""

from __future__ import annotations

import pytest

from datafusion_distributed_experiment_spark import bench as harness
from datafusion_distributed_experiment_spark.bench import (
    FLOOR_EXTRA,
    floor_spread,
    headline_seconds,
    mean_iter_seconds,
    run_benchmark,
)


class _FakeSpark:
    version = "test"

    class sparkContext:
        defaultParallelism = 4

    class catalog:
        @staticmethod
        def clearCache():
            pass


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        if isinstance(self._rows, Exception):
            raise self._rows
        return [None] * self._rows


@pytest.fixture(autouse=True)
def isolations(monkeypatch):
    """Record the harness's isolation boundaries instead of running them:
    each one settles for a second, which these fake-session tests do not
    need."""
    calls: list[None] = []
    monkeypatch.setattr(harness, "_isolate", lambda spark: calls.append(None))
    return calls


def _q(log, name, rows=1):
    def fn(spark, sf_dir):
        log.append(name)
        return _FakeDF(rows)

    return fn


def test_interleaved_passes_and_measure_last_tier(isolations):
    log: list[str] = []
    tiers = [
        ("streaming", {"s1": _q(log, "s1")}),  # listed first, must run LAST
        ("sql", {"a": _q(log, "a"), "b": _q(log, "b")}),
    ]
    results = run_benchmark(
        _FakeSpark(), "sf", tiers, iterations=2, warmup=False, warm_epoch=False,
    )
    # pass 1 of every query precedes pass 2 of any; streaming at each pass
    # end; then per-query consecutive floor passes, streaming tier still last
    floors = ["a"] * FLOOR_EXTRA + ["b"] * FLOOR_EXTRA + ["s1"] * FLOOR_EXTRA
    assert log == ["a", "b", "s1", "a", "b", "s1", *floors], log
    assert all(len(e["iterations"]) == 2 + FLOOR_EXTRA for e in results["queries"])
    assert [e["tier"] for e in results["queries"]] == ["sql", "sql", "streaming"]
    # one boundary after each interleaved pass, one after the streaming floors
    assert len(isolations) == 2 + 1


def test_warm_epoch_runs_everything_once_unmeasured():
    log: list[str] = []
    tiers = [("sql", {"a": _q(log, "a"), "b": _q(log, "b")})]
    results = run_benchmark(
        _FakeSpark(), "sf", tiers, iterations=1, warmup=False, warm_epoch=True,
    )
    assert log == ["a", "b", "a", "b"]  # epoch + one measured pass
    assert all(len(e["iterations"]) == 1 for e in results["queries"])


def test_failing_query_is_isolated_and_skipped_in_later_passes():
    log: list[str] = []
    tiers = [
        ("sql", {
            "ok": _q(log, "ok"),
            "boom": lambda spark, sf: _FakeDF(RuntimeError("kaput")),
            "after": _q(log, "after"),
        })
    ]
    results = run_benchmark(
        _FakeSpark(), "sf", tiers, iterations=3, warmup=False, warm_epoch=False,
    )
    by_name = {e["query"]: e for e in results["queries"]}
    assert by_name["boom"]["success"] is False
    assert "kaput" in by_name["boom"]["error"]
    assert not by_name["boom"]["iterations"]
    # neighbors unaffected: all passes + floor iterations measured
    assert len(by_name["ok"]["iterations"]) == 3 + FLOOR_EXTRA
    assert len(by_name["after"]["iterations"]) == 3 + FLOOR_EXTRA


def test_min_estimator_and_spread():
    entry = {"iterations": [{"elapsed_ms": v} for v in (1058.0, 11500.0, 10329.0, 800.0, 770.0)]}
    assert headline_seconds(entry) == 0.77  # min recovers the uncontaminated cost
    assert headline_seconds({"iterations": []}) is None
    # the floor spread reads the floor block only: the interleaved 11.5 s
    # excursion does not count, the floor block's own 800/770 does
    for it in entry["iterations"][3:]:
        it["floor"] = True
    assert floor_spread(entry) == round(800.0 / 770.0, 2)
    assert floor_spread({"iterations": [{"elapsed_ms": 5.0, "floor": True}]}) is None
    # reference-protocol mean (BenchQuery::avg, util/run.rs:263-270)
    assert mean_iter_seconds(entry) == (1058.0 + 11500.0 + 10329.0 + 800.0 + 770.0) / 5 / 1000
    assert mean_iter_seconds({"iterations": []}) is None


def test_compare_runs_flags_mean_only_regression():
    """A query whose min is stable but whose mean regresses past the 1.2x
    threshold (the intermittent spill/GC class the min estimator cannot
    see) must be called out, not read as silently green."""
    from datafusion_distributed_experiment_spark.bench import compare_runs

    def entry(name, ms):
        return {"query": name, "iterations": [{"elapsed_ms": v} for v in ms]}

    prev = {"queries": [entry("q", [100.0] * 3), entry("r", [100.0] * 3)]}
    cur = {"queries": [entry("q", [100.0, 550.0, 550.0]), entry("r", [100.0] * 3)]}
    lines = compare_runs(cur, prev)
    qline = next(line for line in lines if line.startswith("q:"))
    rline = next(line for line in lines if line.startswith("r:"))
    assert "no change" in qline and "MEAN-REGRESSED" in qline
    assert "[mean " in qline  # both estimators visible on every line
    assert "MEAN-REGRESSED" not in rline
    # a regression BOTH estimators see is a plain slower verdict, not the flag
    cur2 = {"queries": [entry("q", [300.0, 300.0, 300.0])]}
    (qline2,) = compare_runs(cur2, prev)
    assert "slower" in qline2 and "MEAN-REGRESSED" not in qline2


def test_every_query_gets_consecutive_floor_passes(monkeypatch):
    """After the interleaved passes EVERY query gets FLOOR_EXTRA extra
    consecutive iterations (tagged 'floor') — unconditionally, so two
    back-to-back runs always sample the identical regimes (a
    spread-conditional version made runs incomparable: whichever run
    triggered more re-runs read a lower warm-floor minimum)."""
    from datafusion_distributed_experiment_spark import bench as bench_mod

    # Scripted clock: perf_counter is called exactly twice per measured
    # iteration (t0, then elapsed); feed deltas in call order.
    # interleaved passes: a .2s, b .2s | a 1.0s, b .2s
    # floor passes: FLOOR_EXTRA x .1s for a, then for b (consecutive)
    deltas = iter([0.2, 0.2, 1.0, 0.2] + [0.1] * (2 * FLOOR_EXTRA))
    clock = {"t": 0.0, "pending": None}

    def fake_perf_counter():
        if clock["pending"] is None:
            clock["pending"] = next(deltas)
            return clock["t"]
        clock["t"] += clock["pending"]
        clock["pending"] = None
        return clock["t"]

    monkeypatch.setattr(bench_mod.time, "perf_counter", fake_perf_counter)
    log: list[str] = []
    tiers = [("sql", {"a": _q(log, "a"), "b": _q(log, "b")})]
    results = run_benchmark(
        _FakeSpark(), "sf", tiers, iterations=2, warmup=False, warm_epoch=False,
    )
    # execution order: interleaved (a b a b) then consecutive floors per query
    assert log == ["a", "b", "a", "b"] + ["a"] * FLOOR_EXTRA + ["b"] * FLOOR_EXTRA, log
    by_name = {e["query"]: e for e in results["queries"]}
    for name in ("a", "b"):
        assert len(by_name[name]["iterations"]) == 2 + FLOOR_EXTRA
        assert all(i.get("floor") for i in by_name[name]["iterations"][2:])
        # the floor passes are what the min estimator reads
        assert headline_seconds(by_name[name]) == 0.1


def test_compare_runs_refuses_partial_baseline():
    from datafusion_distributed_experiment_spark.bench import compare_runs

    prev = {
        "context": {"partial": ["q9", "bm25_topk"]},
        "queries": [
            {"query": "q9", "iterations": [{"elapsed_ms": 100.0, "row_count": 1}]}
        ],
    }
    cur = {
        "queries": [
            {"query": "q9", "iterations": [{"elapsed_ms": 500.0, "row_count": 1}]}
        ]
    }
    lines = compare_runs(cur, prev)
    assert len(lines) == 1 and "PARTIAL" in lines[0] and "refused" in lines[0]
    # a full previous run still compares normally
    del prev["context"]["partial"]
    assert any("q9" in l for l in compare_runs(cur, prev))


def test_compare_runs_refuses_other_scale_or_width():
    """A run at another sf_dir or local[N] width measures different work, so
    compare_runs refuses it in one line; cpus is the session's
    defaultParallelism, and a baseline that predates it still compares."""
    import copy

    from datafusion_distributed_experiment_spark.bench import compare_runs

    def run(sf_dir, ms):
        def fn(spark, _sf_dir):
            return _FakeDF(1)

        res = run_benchmark(
            _FakeSpark(), sf_dir, [("sql", {"q6": fn})], iterations=1,
            warmup=False, warm_epoch=False,
        )
        res["queries"][0]["iterations"] = [{"elapsed_ms": ms, "row_count": 1}]
        return res

    cur = run("/data/sf0.001", 300.0)
    assert cur["context"]["arguments"]["cpus"] == 4

    (line,) = compare_runs(cur, run("/data/sf0.1", 100.0))
    assert "sf_dir=/data/sf0.1" in line and "refused" in line, line
    assert "slower" not in line and "faster" not in line

    wider = run("/data/sf0.001", 100.0)
    wider["context"]["arguments"]["cpus"] = 32
    (line,) = compare_runs(cur, wider)
    assert "cpus=32" in line and "refused" in line, line

    same = run("/data/sf0.001", 100.0)
    (line,) = compare_runs(cur, same)
    assert line.startswith("q6: 300.0 ms (prev 100.0 ms) -3.00x slower"), line

    older = copy.deepcopy(same)
    del older["context"]["arguments"]["cpus"]
    (line,) = compare_runs(cur, older)
    assert "slower" in line, line


def test_bench_cli_flags_map_to_env(monkeypatch):
    """Reference CLI parity: each bench.py flag sets its env knob, explicit
    env always wins (flags use setdefault), and a bare invocation touches
    nothing — the grading driver's `python bench.py` stays canonical."""
    import importlib
    import os

    bench_mod = importlib.import_module("bench")
    for var in ("SPARK_GRAFT_BENCH_ITERATIONS", "SPARK_GRAFT_BENCH_ONLY"):
        monkeypatch.delenv(var, raising=False)
    bench_mod._parse_cli_into_env([])
    assert "SPARK_GRAFT_BENCH_ONLY" not in os.environ
    bench_mod._parse_cli_into_env(["--iterations", "2", "--query", "q1,q6"])
    assert os.environ["SPARK_GRAFT_BENCH_ITERATIONS"] == "2"
    assert os.environ["SPARK_GRAFT_BENCH_ONLY"] == "q1,q6"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ITERATIONS", "9")
    bench_mod._parse_cli_into_env(["--iterations", "3"])
    assert os.environ["SPARK_GRAFT_BENCH_ITERATIONS"] == "9"  # env wins
    # 0 is a legitimate flag value, not an unset flag: 0 == False in
    # Python, so a membership test against (None, False) would drop it
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ITERATIONS", raising=False)
    bench_mod._parse_cli_into_env(["--iterations", "0"])
    assert os.environ["SPARK_GRAFT_BENCH_ITERATIONS"] == "0"


def test_chunked_ms_lines_fit_and_round_trip():
    """The per-query map re-encoded as integer-ms detail lines: every line
    <= 1000 chars and independently parseable, the union of chunks
    reproduces the full map exactly (ms = round(1000 * s)), parts numbered
    1..n in input order. Two inputs: the real surface (a handful of
    chunks) and a map large enough for two-digit part numbers."""
    import json

    from datafusion_distributed_experiment_spark.bench import chunked_ms_lines

    import __spark_entry__ as entry_mod

    # the real surface's names (worst case for line length) with plausible
    # 2-decimal headline values, exactly as bench.py main builds per_query
    surface = {
        name: round(0.1 + (i % 77) * 0.13, 2)
        for i, name in enumerate(entry_mod.queries())
    }
    # 14 chunks; a budget that assumed one-digit part numbers let three
    # of them reach 1001-1002 chars
    many = {f"query_{i:04d}{'x' * (i % 7)}": 1.0 for i in range(600)}
    for per_query, fewest, most in ((surface, 2, 4), (many, 10, 99)):
        lines = chunked_ms_lines(per_query)
        assert fewest <= len(lines) <= most, f"got {len(lines)} chunks"
        merged: dict[str, int] = {}
        for i, line in enumerate(lines):
            assert len(line) <= 1000, f"chunk {i + 1} is {len(line)} chars"
            obj = json.loads(line)
            assert obj["detail"] == "per_query_ms"
            assert obj["part"] == i + 1 and obj["of"] == len(lines)
            assert not (set(obj["queries"]) & set(merged)), "chunks must not overlap"
            merged.update(obj["queries"])
        assert merged == {n: int(round(s * 1000)) for n, s in per_query.items()}
        # order stability: concatenated chunk keys == input order
        assert list(merged) == list(per_query)


def test_bench_main_stdout_is_chunks_then_metric_line(monkeypatch, capsys):
    """bench.py prints only JSON on stdout: the per_query_ms chunks, then
    the metric line last. The comparison and the floor-spread flag go to
    stderr, and a full run writes results.json against itself as baseline."""
    import importlib
    import json
    import os

    import __spark_entry__ as entry_mod
    import datafusion_distributed_experiment_spark as pkg

    bench_mod = importlib.import_module("bench")

    class _Session:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

    # enough long names for several chunks, one failed query (no
    # iterations, left out) and one unstable floor block (stderr flag)
    names = [f"query_{i:03d}_{'x' * (i % 9)}" for i in range(150)]
    canned = {"context": {}, "queries": []}
    for i, name in enumerate(names):
        floor = [100.0 + i, 100.0 + i] if i else [10.0, 90.0]
        canned["queries"].append({
            "query": name,
            "iterations": [{"elapsed_ms": 200.0 + i}]
            + [{"elapsed_ms": v, "floor": True} for v in floor],
        })
    canned["queries"].append({"query": "failed", "iterations": [], "success": False})
    writes = []

    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "data/sf0.001")
    monkeypatch.setattr(pkg, "build_session", lambda **kw: _Session())
    monkeypatch.setattr(entry_mod, "query_tiers", lambda: [("sql", {})])
    monkeypatch.setattr(harness, "run_benchmark", lambda *a, **kw: canned)
    monkeypatch.setattr(harness, "write_results", lambda *a: writes.append(a[1:]))

    assert bench_mod.main() == 0
    out, err = capsys.readouterr()
    lines = out.splitlines()
    objs = [json.loads(line) for line in lines]  # every stdout line is JSON
    headline = {n: headline_seconds(q) for n, q in zip(names, canned["queries"])}
    assert objs[-1] == {
        "metric": "total_query_seconds",
        "value": round(sum(headline.values()), 3),
        "unit": "sec",
        "sf": 0.001,
        "n_queries": len(names),
    }
    chunks = objs[:-1]
    assert len(chunks) > 1
    merged: dict[str, int] = {}
    for i, obj in enumerate(chunks):
        assert obj["detail"] == "per_query_ms"
        assert obj["part"] == i + 1 and obj["of"] == len(chunks)
        merged.update(obj["queries"])
    assert merged == {n: int(round(s * 1000)) for n, s in headline.items()}
    assert "floor-spread>1.2x" in err and names[0] in err
    (written,) = writes
    assert [os.path.basename(p) for p in written] == ["results.json", "results.json"]


def test_write_results_compares_to_baseline_then_writes_output(tmp_path, capsys):
    """The comparison against the baseline goes to stderr, the output file
    gets the new run, and a separate baseline file is left as it was."""
    import json

    from datafusion_distributed_experiment_spark.bench import write_results

    def run(ms):
        return {"queries": [{"query": "q", "iterations": [{"elapsed_ms": ms}]}]}

    baseline = tmp_path / "results.json"
    baseline.write_text(json.dumps(run(100.0)))
    before = baseline.read_bytes()
    partial = tmp_path / "results.partial.json"
    write_results(run(300.0), partial, baseline)
    out, err = capsys.readouterr()
    assert out == ""
    assert err.startswith("q: 300.0 ms (prev 100.0 ms)") and "slower" in err
    assert baseline.read_bytes() == before
    assert json.loads(partial.read_text()) == run(300.0)
    # no baseline yet: nothing to compare, the output is still written
    write_results(run(5.0), tmp_path / "first.json", tmp_path / "missing.json")
    assert capsys.readouterr() == ("", "")
    assert json.loads((tmp_path / "first.json").read_text()) == run(5.0)
