"""Unit tests for distributed connected components (duplicate-cluster
resolution). The corpus-level dedup_clusters query is covered by the
DuckDB-oracle differential test (test_corpus_oracle); here the propagation
loop itself is pinned on hand-built graphs whose shapes stress it:
multi-hop chains (labels must travel the diameter), merged triangles, and
order-reversed edges."""

from __future__ import annotations


def _cc(spark, edges):
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    rows = connected_components(pairs).collect()
    return {r["doc_id"]: r["cluster_id"] for r in rows}


def test_chain_propagates_min_across_diameter(spark):
    # 1-2-3-4-5: min label must hop 4 edges.
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_keep_separate_minima(spark):
    got = _cc(spark, [(10, 20), (20, 30), (7, 8), (100, 101)])
    assert got == {10: 10, 20: 10, 30: 10, 7: 7, 8: 7, 100: 100, 101: 100}


def test_edge_direction_irrelevant(spark):
    # Pairs listed high->low: symmetry must be built by the operator.
    got = _cc(spark, [(9, 3), (3, 1)])
    assert got == {1: 1, 3: 1, 9: 1}


def test_bridge_merges_two_clusters(spark):
    # Two triangles joined by one bridge edge collapse to one cluster.
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == 6


def test_empty_graph(spark):
    got = _cc(spark, [])
    assert got == {}


def test_dedup_clusters_canonical_flag(spark):
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.dedup import dedup_clusters

    from .conftest import SF_DIR

    df = dedup_clusters(spark, SF_DIR)
    rows = df.collect()
    assert rows, "augmented corpus must produce at least one duplicate cluster"
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        # cluster representative is a member of the graph and is canonical
        assert r["cluster_id"] in by_id
        assert by_id[r["cluster_id"]]["is_canonical"]
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])
    # exactly one canonical doc per cluster
    canon = [r for r in rows if r["is_canonical"]]
    assert len(canon) == len({r["cluster_id"] for r in rows})


def test_loops_run_on_the_callers_session(spark):
    """Both connected-components loops and the BPE merge loop run on the
    caller's session: their results belong to it, no global temp view is
    left behind, and the caller's shuffle width is untouched."""
    from datafusion_distributed_experiment_spark.operators import bpe
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    from .conftest import SF_DIR

    width = spark.conf.get("spark.sql.shuffle.partitions")
    views = sorted(t.name for t in spark.catalog.listTables("global_temp"))
    edges = [(b, b + 1) for b in (10, 20, 30)] + [(b + 1, b + 2) for b in (10, 20, 30)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {b + i: b for b in (10, 20, 30) for i in range(3)}
    for cc in (connected_components, connected_components_star):
        out = cc(pairs)
        assert out.sparkSession is spark, cc.__name__
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == want
    assert bpe._trained_words(bpe._docs(spark, SF_DIR)).sparkSession is spark
    assert sorted(t.name for t in spark.catalog.listTables("global_temp")) == views
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_scoped_width_is_concurrency_safe(spark):
    """The streaming replay runs at its own width (8) on a sibling session
    (session.scoped_session) while the CC loop and batch queries run on the
    caller's session: neither may leak a width into the shared session's
    conf, and all three must return correct results side by side.

    This is the failure mode a set/restore of the caller's conf had: a
    batch groupBy planned while another thread held the narrowed conf."""
    import threading

    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components,
    )
    from datafusion_distributed_experiment_spark.streaming.events import stream_dedup

    from .conftest import SF_DIR

    parent_width = spark.conf.get("spark.sql.shuffle.partitions")
    errors: list[BaseException] = []

    def guard(fn):
        def run():
            try:
                fn()
            except BaseException as exc:  # noqa: BLE001 - surfaced below
                errors.append(exc)

        return run

    def run_cc():
        # three triangle components; diameter 2 -> converges well inside
        # MAX_CC_ITERS even under concurrency
        edges = [(b, b + 1) for b in (10, 20, 30)] + [(b + 1, b + 2) for b in (10, 20, 30)]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        assert got == {b + i: b for b in (10, 20, 30) for i in range(3)}, got

    def run_stream():
        rows = stream_dedup(spark, SF_DIR).collect()
        assert len(rows) > 0

    def run_batch():
        for _ in range(8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == parent_width
            n = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().count()
            assert n == 7

    threads = [threading.Thread(target=guard(f)) for f in (run_cc, run_stream, run_batch)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_width


def _py_components(edges):
    """Driver-side union-find ground truth (min-id representative)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _star_cc(spark, edges):
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges or [(0, 0)], "doc_a long, doc_b long")
    if not edges:
        pairs = pairs.limit(0)
    return {
        r["doc_id"]: r["cluster_id"] for r in connected_components_star(pairs).collect()
    }


def test_star_cc_matches_union_find_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        want = _py_components(edges)
        got = _star_cc(spark, edges)
        assert got == want, (trial, got, want)


def test_star_cc_handles_high_diameter_beyond_label_prop_budget(spark):
    """A path longer than MAX_CC_ITERS (the label-prop round budget, which
    now raises loudly instead of returning wrong labels) is contracted by
    the star variant's pointer-doubling within its O(log n) rounds — the
    exact case the variant exists for. The path length derives from the
    constant so a budget retune keeps the premise true."""
    from datafusion_distributed_experiment_spark.operators.dedup import MAX_CC_ITERS

    n = MAX_CC_ITERS + 2
    assert n - 1 > MAX_CC_ITERS
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _star_cc(spark, edges)
    assert got == {i: 0 for i in range(n)}, got


def test_star_cc_agrees_with_label_prop_on_dedup_pairs(spark):
    """Differential: both CC algorithms produce identical clusters on the
    real mined near-dup pair graph."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_dedup_pairs,
    )

    from .conftest import SF_DIR

    pairs = minhash_dedup_pairs(spark, SF_DIR).select("doc_a", "doc_b")
    a = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    b = {r["doc_id"]: r["cluster_id"] for r in connected_components_star(pairs).collect()}
    assert a == b


def test_star_cc_empty_and_self_loop_graphs(spark):
    assert _star_cc(spark, []) == {}
    assert _star_cc(spark, [(5, 5)]) == {5: 5}


def test_dedup_clusters_keeps_no_state_between_calls(spark, tmp_path):
    """Each call mines its own pair graph: a second call after clearCache
    launches exactly the jobs of the first and returns the same rows. The
    sf_dir is a fresh path, so no earlier test can have warmed anything
    keyed by it."""
    import os

    from datafusion_distributed_experiment_spark.operators.dedup import dedup_clusters

    from .conftest import SF_DIR

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    os.symlink(f"{SF_DIR}/documents.parquet", sf_dir / "documents.parquet")
    sc = spark.sparkContext
    jobs, rows = [], []
    try:
        for i in range(2):
            group = f"cc-no-state-{i}"
            sc.setJobGroup(group, "dedup_clusters call")
            rows.append(sorted(dedup_clusters(spark, str(sf_dir)).collect()))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            spark.catalog.clearCache()
    finally:
        sc.setJobGroup(None, None)
    assert jobs[0] == jobs[1] > 0, jobs
    assert rows[0] == rows[1] and rows[0]


def test_cc_raises_loudly_when_round_budget_exhausted(spark, monkeypatch):
    """Review fix (round 11): exhausting the round cap must raise, never
    return silently wrong labels — a diameter-d path needs d label-prop
    rounds, so a shrunken budget trips on a short chain. The star variant
    has the same contract via its max_iters parameter."""
    import pytest

    from datafusion_distributed_experiment_spark.errors import ExecutionError
    from datafusion_distributed_experiment_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_CC_ITERS", 3)
    path = [(i, i + 1) for i in range(8)]  # diameter 8 > 3 rounds
    pairs = spark.createDataFrame(path, "doc_a: long, doc_b: long")
    with pytest.raises(ExecutionError, match="did not converge"):
        dedup.connected_components(pairs)
    # round-12 review fix: the cap bounds CHANGING rounds, not
    # observations — a path needing exactly MAX_CC_ITERS changing rounds
    # converges via the budgeted extra no-change observation round instead
    # of raising a false non-convergence
    exact = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "doc_a: long, doc_b: long"
    )
    labels = {
        r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(exact).collect()
    }
    assert labels == {i: 0 for i in range(4)}
    with pytest.raises(ExecutionError, match="did not converge"):
        # a 257-node path needs ~log2 rounds > 1 alternating-star round
        long_path = spark.createDataFrame(
            [(i, i + 1) for i in range(256)], "doc_a: long, doc_b: long"
        )
        dedup.connected_components_star(long_path, max_iters=1)
