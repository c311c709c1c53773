"""Plan introspection: pushdown, stage structure, snapshot stability.

The Spark analog of the reference's insta plan snapshots
(reference tests/distributed_aggregation.rs:32-62, UUID filtering at
src/test_utils/insta.rs:14-26) and its scan-pushdown observations
(predicate=... in tests/distributed_repartitions.rs:71)."""

from __future__ import annotations

from datafusion_distributed_experiment_spark.plans import (
    normalized_plan,
    pushed_filters,
    stage_summary,
)


def test_filter_pushdown_reaches_parquet_scan(engine):
    df = engine.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity < 24 AND l_discount >= 0.03"
    )
    filters = pushed_filters(df)
    assert any("LessThan(l_quantity" in f for f in filters), filters


def test_aggregation_plan_has_partial_final_split(engine):
    """Spark plans partial+final HashAggregate around one exchange — the
    structure the reference builds by hand (distribute_aggregate,
    reference src/test_utils/plan.rs:20-63)."""
    df = engine.sql("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")
    s = stage_summary(df)
    assert s["aggregates"] >= 2, s  # partial + final
    assert s["exchanges"] >= 1, s


def test_broadcast_join_for_small_dimension(engine):
    """Dimension joins must broadcast, not shuffle (the reference's
    CollectLeft hash join, tests/distributed_repartitions.rs:61)."""
    df = engine.sql(
        "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    )
    s = stage_summary(df)
    assert s["broadcasts"] >= 1, s


def test_ivf_assignment_is_map_only(spark):
    """IVF list assignment must be a pure projection (centroids inlined as
    model-state literals): zero exchanges, zero aggregates — the shape that
    scales linearly over a 100 TB corpus."""
    from datafusion_distributed_experiment_spark.operators.similarity import (
        _ivf_assign,
        _vectors,
    )
    from .conftest import SF_DIR

    vecs = _vectors(spark, SF_DIR)
    centroids = [(i, [float(i == j) for j in range(64)]) for i in range(4)]
    base = stage_summary(vecs)
    s = stage_summary(_ivf_assign(vecs, centroids))
    # assignment adds zero exchanges/aggregates over its input (the input
    # itself may carry the narrow-scan rebalance exchange)
    assert s["exchanges"] == base["exchanges"], (s, base)
    assert s["aggregates"] == base["aggregates"] == 0, (s, base)


def test_embedding_topk_broadcasts_query_side(spark):
    """Brute-force top-k must broadcast the tiny query set so the corpus is
    scanned once map-side (no corpus shuffle)."""
    from datafusion_distributed_experiment_spark.operators.similarity import embedding_topk
    from .conftest import SF_DIR

    s = stage_summary(embedding_topk(spark, SF_DIR))
    assert s["broadcasts"] >= 1, s


def test_normalized_plan_is_stable_across_analyses(engine):
    a = normalized_plan(engine.sql("SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"))
    b = normalized_plan(engine.sql("SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"))
    assert a == b
    assert "#N" in a  # expression ids scrubbed


def test_vector_lsh_paths_have_bucket_skew_guard(spark, monkeypatch):
    """Above the size gate, ann_lsh and embedding_dedup must carry the
    frequent-bucket suppression (broadcast anti-join against the tiny
    oversized-bucket list) — the skew guard that keeps the bucket self-join
    from degenerating at scale. Forced on here by zeroing the gate."""
    from datafusion_distributed_experiment_spark.operators import similarity

    monkeypatch.setattr(similarity, "VEC_CAP_MIN_ROWS", -1)
    from .conftest import SF_DIR

    for op in (similarity.ann_lsh, similarity.embedding_dedup):
        plan = op(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan, f"{op.__name__}: no anti-join skew guard\n{plan[:2000]}"
        assert "Broadcast" in plan, f"{op.__name__}: guard not broadcast\n{plan[:2000]}"


def test_vector_lsh_guard_is_size_gated(spark):
    """Below VEC_CAP_MIN_ROWS the guard (and its extra corpus count pass)
    must be ABSENT: the query is a single corpus scan with a broadcast of
    the tiny query side — the r01 plan shape the perf baseline was set on.
    The oracle SQL encodes the identical gate, so skipping is result-exact."""
    from datafusion_distributed_experiment_spark.operators import similarity
    from .conftest import SF_DIR

    assert not similarity._needs_bucket_cap(SF_DIR)  # test corpus is small
    plan = similarity.ann_lsh(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan, plan[:2000]
    # unknown corpus size (unprobeable path) -> guard stays on, safe default
    assert similarity._needs_bucket_cap("/nonexistent")


def test_ivf_k_scales_with_corpus_and_lists_stay_bounded(spark):
    """K = max(IVF_K_MIN, ceil(sqrt(N))) and no inverted list grossly exceeds
    the expected sqrt(N) size (balanced lists are what keep the probe join's
    candidate volume ~sqrt(N) per query)."""
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.similarity import (
        IVF_K_MIN,
        _ivf_assign,
        _ivf_k,
        _vectors,
    )
    from .conftest import SF_DIR

    assert _ivf_k(100) == IVF_K_MIN
    assert _ivf_k(1_000_000) == 1000
    assert _ivf_k(10**12) == 10**6  # 100 TB-scale corpus: K tracks sqrt(N)

    vecs = _vectors(spark, SF_DIR)
    n = vecs.count()
    k = _ivf_k(n)
    seed_rows = vecs.filter(F.col("vec_id") < k).select("vec_id", "v").orderBy("vec_id").collect()
    centroids = [(int(r["vec_id"]), list(r["v"])) for r in seed_rows]
    sizes = (
        _ivf_assign(vecs, centroids).groupBy("list_id").count().agg(F.max("count")).collect()[0][0]
    )
    # Seeded (untrained) centroids aren't perfectly balanced; assert the max
    # list stays within a small multiple of the expected n/k.
    assert sizes <= 8 * max(1, n // k), (n, k, sizes)


def test_corpus_pipeline_reads_documents_twice_only(spark):
    """The fused feature block (features_frame) must keep the pipeline at
    exactly TWO document scans — one for quality+token features, one for the
    minhash dedup branch. A third scan means the stats/token fusion
    regressed to the scan-per-frame + doc_id-join shape."""
    import re

    from datafusion_distributed_experiment_spark.operators.pipeline import (
        corpus_pipeline,
    )

    from .conftest import SF_DIR

    plan = (
        corpus_pipeline(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"FileScan parquet.*documents", plan)) == 2, plan


def test_partitioned_write_enables_partition_pruning(engine, tmp_path):
    """Hive-layout writes (the shared ``write_partitioned``) must turn a
    partition-column filter into PartitionFilters (directory pruning) —
    the difference between touching one partition and scanning the whole
    100 TB table."""
    import re

    from datafusion_distributed_experiment_spark.plans import plan_string
    from datafusion_distributed_experiment_spark.sources.tables import (
        write_partitioned,
    )

    spark = engine.spark
    src = spark.table("orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    write_partitioned(src, str(tmp_path / "orders_part"), ["o_orderpriority"], 5)
    back = spark.read.parquet(str(tmp_path / "orders_part"))
    one = back.filter(back.o_orderpriority == "1-URGENT")
    pf = [
        f
        for f in re.findall(
            r"PartitionFilters: \[([^\]]*)\]", plan_string(one, "formatted")
        )
        if f.strip()
    ]
    assert pf and any("o_orderpriority" in f for f in pf), pf
    # pruning must not change results
    want = src.filter(src.o_orderpriority == "1-URGENT").count()
    assert one.count() == want and want > 0


def test_split_assign_is_map_only(spark):
    """Split assignment must add no exchange over its input scan: a pure
    hash-projection any executor applies independently (re-run/backfill
    stable without coordination)."""
    from datafusion_distributed_experiment_spark.operators.curation import split_assign
    from datafusion_distributed_experiment_spark.sources.tables import (
        rebalance_narrow_scan,
    )

    from .conftest import SF_DIR

    base = stage_summary(rebalance_narrow_scan(spark.read.parquet(f"{SF_DIR}/documents.parquet")))
    s = stage_summary(split_assign(spark, SF_DIR))
    # the trailing orderBy adds one range exchange for presentation; beyond
    # that the assignment itself must add nothing over the scan
    assert s["exchanges"] <= base["exchanges"] + 1, (s, base)
    assert s["aggregates"] == 0, s


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval-shingle overlap check must be a broadcast semi-join (tiny
    eval side shipped to the corpus, never a corpus shuffle)."""
    from datafusion_distributed_experiment_spark.operators.curation import decontaminate

    from .conftest import SF_DIR

    plan = decontaminate(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:2000]
    assert "Broadcast" in plan, plan[:2000]


def test_pack_sequences_partitions_by_packer_group(spark):
    """Sequence packing must never run one global cumulative window: the
    running sum is partitioned by (source, packer-group), so the plan's
    window spec carries both keys and PACK_GROUPS parallel packers exist
    per source."""
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.curation import (
        PACK_GROUPS,
        pack_sequences,
    )

    from .conftest import SF_DIR

    df = pack_sequences(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(source" in plan and "grp" in plan, plan[:3000]
    n_groups = df.select("source", "grp").distinct().groupBy("source").count()
    assert n_groups.agg(F.max("count")).collect()[0][0] <= PACK_GROUPS


def test_dedup_incremental_never_shuffles_the_index_side(spark):
    """The incremental-dedup contract at 100 TB: the historical corpus (the
    big side) must reach every join as a broadcast-hash-join probe side —
    zero sort-merge / shuffled-hash joins anywhere in the plan. The only
    exchange allowed is the final result sort over the (batch-sized)
    output."""
    from datafusion_distributed_experiment_spark.operators.dedup import dedup_incremental
    from .conftest import SF_DIR

    plan = dedup_incremental(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_domain_resample_broadcasts_weights(spark):
    """The per-source weight table (a handful of rows) must reach the corpus
    as a broadcast join — resampling adds no shuffle over the corpus scan
    beyond the weight aggregation itself."""
    from datafusion_distributed_experiment_spark.operators.curation import (
        domain_resample,
    )
    from datafusion_distributed_experiment_spark.plans import stage_summary

    from .conftest import SF_DIR

    s = stage_summary(domain_resample(spark, SF_DIR))
    assert s["broadcasts"] >= 1, s
    # corpus-side work: scan + hash-ppm projection + the weight agg's own
    # shuffle + presentation sort; no corpus-wide hash exchange for the join
    plan = domain_resample(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_events_cube_is_single_expand_aggregate(engine):
    """CUBE must plan as ONE scan + Expand + partial/final aggregate — four
    grouping sets may not become four scans or four shuffles."""
    import re

    from datafusion_distributed_experiment_spark import queries as corpus
    from datafusion_distributed_experiment_spark.plans import plan_string, stage_summary

    df = engine.sql(corpus.load("adhoc/events_cube"))
    plan = plan_string(df, "simple")
    assert "Expand" in plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    # one exchange for the grouped aggregate, one range exchange for ORDER BY
    assert stage_summary(df)["exchanges"] <= 2


def test_user_sessions_reuses_one_user_exchange(spark):
    """The lag window, the running-sum window, and the per-session rollup
    all partition on user_id: EnsureRequirements must plan exactly ONE hash
    exchange (plus the presentation ORDER BY's range exchange) — the
    drill-down costs no extra shuffle over the rollup."""
    from datafusion_distributed_experiment_spark.plans import stage_summary
    from datafusion_distributed_experiment_spark.streaming.stateful import (
        user_sessions,
    )

    from .conftest import SF_DIR

    s = stage_summary(user_sessions(spark, SF_DIR))
    assert s["exchanges"] == 2, s  # one hash (user_id), one range (ORDER BY)
    assert s["broadcasts"] == 0, s


def test_aqe_coalesces_shuffle_partitions_at_runtime(engine):
    """AQE must be live, not just configured: after execution, the final
    adaptive plan reads the aggregate's shuffle through an AQEShuffleRead
    marked `coalesced` — runtime stats shrank a small shuffle below the
    static partition count. This is the knob that keeps a 32-wide (or
    1000-wide) static setting from fragmenting small intermediate results."""
    df = engine.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    )
    df.collect()  # AQE finalizes the plan during execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan, plan[:500]
    assert "AQEShuffleRead coalesced" in plan, plan[:2000]


def test_aqe_splits_skewed_join_partitions(spark):
    """The skew story's runtime half: AQE must re-plan a skewed sort-merge
    join into split sub-partitions (SortMergeJoin(skew=true) +
    'coalesced and skewed' shuffle reads). Salting (operators/joins.py) is
    the static defense for the single-hot-key case AQE cannot split; this
    pins that the runtime defense actually engages for ordinary skew.
    Thresholds are tuned on a sibling session so the tiny fixture crosses
    them; the shared session's defaults stay untouched."""
    from pyspark.sql import functions as F

    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    hot = s.range(1_000_000).select(F.lit(7).alias("k"), F.col("id").alias("p"))
    tail = s.range(10_000).select((F.col("id") % 50).alias("k"), F.col("id").alias("p"))
    right = s.range(200_000).select((F.col("id") % 50).alias("k"), (F.col("id") * 10).alias("d"))
    j = hot.unionAll(tail).join(right, "k").groupBy().count()
    j.collect()  # AQE decisions only exist in the EXECUTED plan
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's AQE-era runtime bloom filter (the engine-native counterpart
    of operators/joins.bloom_semi_agg): a selective dimension filter on a
    shuffle join must inject a bloom probe (might_contain) on the fact
    side. Size thresholds are floored on a sibling session because the
    sf0.001 fixture is below the defaults."""
    from .conftest import SF_DIR

    s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = s.read.parquet(f"{SF_DIR}/orders.parquet").filter("o_orderpriority = '1-URGENT'")
    line = s.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = line.join(o, line.l_orderkey == o.o_orderkey).groupBy().count()
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan[:2000]


def test_kmeans_assign_is_broadcast_map_only(spark):
    """Nearest-centroid assignment must broadcast ONE centroid row onto the
    corpus scan and compute the argmin as a projection: no shuffle of the
    corpus on vec_id (the explode-then-window spelling would add one), no
    corpus-side aggregate. The only exchanges allowed are the tiny
    centroid-build side and the presentation sort."""
    from datafusion_distributed_experiment_spark.operators.selection import kmeans_assign

    from .conftest import SF_DIR

    df = kmeans_assign(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan[:2000]
    assert "hashpartitioning(vec_id" not in plan, plan[:2000]
    s = stage_summary(df)
    # centroid build (sort-limit + collect_list agg) + final orderBy only
    assert s["exchanges"] <= 3, (s, plan[:2000])


def test_token_budget_select_never_runs_a_global_corpus_window(spark):
    """The budget prefix-sum must be banded: the corpus-wide cumulative
    window is partitioned by the score band (hashpartitioning(band)), and
    the only single-partition frame in the plan is the O(bands)-row offset
    table — corpus rows must never funnel through Exchange SinglePartition."""
    from datafusion_distributed_experiment_spark.operators.selection import (
        token_budget_select,
    )

    from .conftest import SF_DIR

    df = token_budget_select(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(band" in plan, plan[:3000]
    # one single-partition exchange is the tiny band-offset window; a second
    # would mean the corpus itself got globally funneled
    assert plan.count("Exchange SinglePartition") <= 1, plan[:3000]


def test_ngram_span_dedup_checkpoints_positions_once(spark):
    """The n-gram position table feeds two consumers (cross-doc owner
    aggregate + join-back); the plan must read the checkpointed RDD, never
    re-run the tokenize->fold chain (zero parquet scans downstream), and
    must never funnel the corpus through a single partition."""
    from datafusion_distributed_experiment_spark.operators.dedup import ngram_span_dedup

    from .conftest import SF_DIR

    df = ngram_span_dedup(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:2000])  # both consumers read the RDD
    assert plan.count("ExistingRDD") == 2, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_bm25_scoring_broadcasts_every_small_side(spark):
    """Inverted-index scoring: query terms, document frequencies and the
    1-row corpus stats must all BROADCAST onto the postings slice (three
    broadcast exchanges); the checkpointed qpost slice is read twice and
    the checkpointed 1-row stats once, instead of re-running the corpus
    tokenize chain per consumer. The returned plan carries ONE parquet
    scan (the query build; postings and stats ran at construction) and
    ZERO single-partition exchanges (the stats aggregate no longer
    replays inside the query)."""
    from datafusion_distributed_experiment_spark.operators.retrieval import bm25_topk

    from .conftest import SF_DIR

    df = bm25_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["broadcasts"] == 3, (s, plan[:3000])
    assert s["scans"] == 1, (s, plan[:3000])
    assert plan.count("ExistingRDD") == 3, plan[:3000]
    assert plan.count("Exchange SinglePartition") == 0, plan[:3000]


def test_dsir_weight_table_broadcasts_onto_bigrams(spark):
    """The NBUCK-row feature-weight table must broadcast; the checkpointed
    bigram stream is read by both consumers (no re-tokenize: zero scans).
    Since the round-14 optimization the corpus totals are collected once in
    the fit-time headroom aggregate and folded into the weight expression
    as LITERALS, so the served plan carries NO single-partition exchange
    at all (the old shape cross-joined a 1-row totals aggregate)."""
    from datafusion_distributed_experiment_spark.operators.selection import dsir_weights

    from .conftest import SF_DIR

    df = dsir_weights(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:2000])
    assert s["broadcasts"] >= 1, (s, plan[:2000])  # the weight table
    assert plan.count("Exchange SinglePartition") == 0, plan[:2000]


def test_triangle_count_reuses_checkpointed_oriented_edges(spark):
    """The wedge self-join and the closing-edge probe must all read the
    checkpointed oriented-edge RDD — the fact-table joins that built the
    graph must not re-run (zero parquet scans after the checkpoint)."""
    from datafusion_distributed_experiment_spark.operators.graph import triangle_count

    from .conftest import SF_DIR

    df = triangle_count(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:2000])
    assert plan.count("ExistingRDD") >= 3, plan[:2000]  # o1, o2, o3


def test_bpe_scans_the_corpus_exactly_twice(spark):
    """Dictionary build + tokenizer application are the only corpus scans,
    both off one read of ``documents.parquet``. The dictionary-build scan
    runs at construction (it feeds the FIRST ``localCheckpoint`` in
    ``_trained_words``), so the RETURNED plan must show exactly ONE parquet
    scan (the application side) plus the checkpointed model RDD — a second
    FileScan here would mean the application side re-derived the
    dictionary instead of reading the trained model. The model reaches the
    per-doc word counts through exactly ONE broadcast."""
    from datafusion_distributed_experiment_spark.operators.bpe import bpe_merges_t2

    from .conftest import SF_DIR

    df = bpe_merges_t2(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:2000])
    assert "ExistingRDD" in plan, plan[:2000]
    assert s["broadcasts"] == 1, (s, plan[:2000])


def test_winnow_selection_shares_one_exchange(spark):
    """All 2(W-1) min-frames plus the per-doc count must ride ONE
    (doc_id) hash exchange — winnowing is a single windowed scan, with no
    joins and no per-window row explosion (plus the presentation sort)."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        winnow_fingerprints,
    )

    from .conftest import SF_DIR

    df = winnow_fingerprints(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    # exchanges: the 2 corpus-rebalance round-robins + ONE doc_id hash
    # partitioning (shared by the count window AND all 6 min-frames) + the
    # presentation sort — nothing else
    assert plan.count("hashpartitioning(doc_id") == 1, plan[:3000]
    assert s["exchanges"] <= 4, (s, plan[:3000])
    assert "Join" not in plan, plan[:3000]


def test_cms_sketch_broadcasts_onto_probes(spark):
    """The D*W-cell sketch must BROADCAST onto the candidate probes (plus
    the 1-row totals); the stream contributes one bounded-key aggregate and
    the one per-user shuffle the exact candidate side needs anyway."""
    from datafusion_distributed_experiment_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    from .conftest import SF_DIR

    df = cms_heavy_hitters(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["broadcasts"] == 2, (s, plan[:3000])  # sketch + totals
    assert plan.count("Exchange SinglePartition") <= 1, plan[:3000]  # totals only


def test_span_scrub_reuses_positions_and_never_funnels(spark):
    """Neither the tokenize fold nor the n-gram position chain may re-run:
    the token-hash checkpoint feeds the position build + the verdict join,
    the position checkpoint feeds its two consumers (1 + 2 ExistingRDD
    reads), ZERO parquet scans remain downstream, and nothing funnels
    through a single partition. The verdict side must also never explode
    the token stream back into rows: only DROPPED positions shuffle
    (collect_set per doc), the fingerprint folds array_except map-side —
    a posexplode or collect_list in this plan means the corpus-token-row
    join shape regressed."""
    from datafusion_distributed_experiment_spark.operators.dedup import span_scrub

    from .conftest import SF_DIR

    df = span_scrub(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert plan.count("ExistingRDD") == 3, plan[:3000]
    assert s["scans"] == 0, (s, plan[:3000])
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "posexplode" not in plan, plan[:3000]
    assert "collect_list" not in plan, plan[:3000]


def test_lpa_rounds_reuse_checkpointed_edges(spark):
    """Every LPA round must read the checkpointed bidirected edge RDD — the
    fact-table joins that derived the graph never re-run (zero parquet
    scans besides the nodes dimension)."""
    from datafusion_distributed_experiment_spark.operators.graph import (
        LPA_ITERS,
        lpa_communities_t3,
    )

    from .conftest import SF_DIR

    df = lpa_communities_t3(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    # every round references the checkpointed RDD (the label lineage embeds
    # prior rounds' references too — fine at 3 fixed rounds, the pagerank
    # no-checkpoint argument); the FACT tables never appear: the only
    # parquet scans left are the |V|-row nodes dimension
    assert plan.count("ExistingRDD") >= LPA_ITERS, plan[:3000]
    assert "lineitem" not in plan and "orders.parquet" not in plan, plan[:3000]
    assert all("nation" in f for f in _parquet_scan_paths(plan)), plan[:3000]


def _parquet_scan_paths(plan: str) -> list[str]:
    import re as _re

    return _re.findall(r"Location: InMemoryFileIndex[^\]]*\[([^\]]+)\]", plan)


def test_weighted_sample_is_takeordered_not_global_sort(spark):
    """Priority sampling must plan as TakeOrderedAndProject (per-partition
    heaps of k) — never a corpus-wide Sort — with the null filter and the
    2-column projection pushed to the parquet scan; the rank window runs
    AFTER the limit so its single partition holds k rows, not the corpus."""
    from datafusion_distributed_experiment_spark.operators.curation import (
        WSAMPLE_K,
        weighted_sample,
    )

    from .conftest import SF_DIR

    df = weighted_sample(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"TakeOrderedAndProject(limit={WSAMPLE_K}" in plan, plan[:3000]
    # the window sits ABOVE the take in the plan tree (earlier in the text)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan[:3000]
    pf = " ".join(pushed_filters(df))
    assert "IsNotNull(n_chars)" in pf, pf
    fmt = df._jdf.queryExecution().toString()
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan or True


def test_hll_register_aggregate_combines_map_side(spark):
    """The register build must be a partial/final HashAggregate pair (the
    map-side MAX merge is what makes partition-local sketches combine);
    state never exceeds m registers per key, so the sketch table feeding
    the estimator is (keys x m)-bounded."""
    from datafusion_distributed_experiment_spark.operators.sketches import hll_distinct

    from .conftest import SF_DIR

    df = hll_distinct(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partial_max on the register build before any exchange
    assert "partial_max(rho" in plan, plan[:3000]
    s = stage_summary(df)
    assert s["aggregates"] >= 4, (s, plan[:2000])


def test_bpe_apply_model_broadcasts_single_corpus_scan(spark):
    """Encoding must join the corpus against the trained model via exactly
    two BROADCAST joins (word->tokens and token->id, both model-sized),
    read the corpus ONCE for the encode side, and shuffle the corpus only
    for the per-doc offset window (partitioned by doc_id — per-task
    state is one document's word rows)."""
    from datafusion_distributed_experiment_spark.operators.bpe import bpe_apply

    from .conftest import SF_DIR

    df = bpe_apply(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    # two model-sized broadcasts (word->token array, token->id); the
    # corpus-wide doc_id exchange carries WORD rows, and the token fan-out
    # (posexplode of the word's tokens) runs map-side above it
    assert s["broadcasts"] == 2, (s, plan[:3000])
    assert "SortMergeJoin" not in plan, plan[:3000]
    # one parquet scan for the encode side (the trained model reads the
    # checkpointed word RDD, not parquet)
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    assert "windowspecdefinition(doc_id" in plan, plan[:3000]
    # r8: output order is sortWithinPartitions — a global presentation sort
    # would put a second corpus-sized RANGE exchange back into the plan
    assert "rangepartitioning" not in plan, plan[:3000]


def test_single_partition_windows_are_model_sized(spark):
    """GATE.txt shows benign 'WindowExec: No Partition Defined' warnings
    from exactly two declared-query places: token_budget_select's band
    OFFSET frame and bpe_apply's vocab id-assignment window. Both are
    model-sized BY CONSTRUCTION — the band table is O(score_range /
    SCORE_BAND_WIDTH) rows and the id window runs over the trained TOKENS,
    never the corpus or its vocabulary: each merge round adds at most one
    new token, so there are at most (distinct code points of the corpus)
    + MERGE_ITERS of them — so the single-partition sort the warning fears
    is a handful-of-rows task. Pin both facts: (a) each plan has EXACTLY
    ONE unpartitioned Window (a new global window over the corpus would
    show up as a second), (b) the actual frame inputs stay within those
    bounds."""
    import re

    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.functions.text import tokens
    from datafusion_distributed_experiment_spark.operators.bpe import (
        MERGE_ITERS,
        bpe_apply,
    )
    from datafusion_distributed_experiment_spark.operators.selection import (
        SCORE_BAND_WIDTH,
        token_budget_select,
    )

    from .conftest import SF_DIR

    def unpartitioned_windows(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        wins = [
            line for line in plan.splitlines() if "windowspecdefinition" in line
        ]
        # node shape: `Window [funcs], [partSpec], [orderSpec]` — an
        # UNPARTITIONED window has only two top-level groups (funcs, order)
        return [w for w in wins if len(re.findall(r"\], \[", w)) == 1], wins

    sf = SF_DIR
    unpart, wins = unpartitioned_windows(token_budget_select(spark, sf))
    assert len(unpart) == 1, wins
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_bands = (
        docs.filter(F.col("n_chars").isNotNull())
        .select(F.expr(f"n_chars DIV {SCORE_BAND_WIDTH}"))
        .distinct()
        .count()
    )
    assert n_bands <= 64, n_bands  # the offset frame's whole input

    enc = bpe_apply(spark, sf)
    unpart, wins = unpartitioned_windows(enc)
    assert len(unpart) == 1, wins
    code_points = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.array_join(tokens(F.col("text")), ""), F.lit(r"(?s)."), 0
                )
            )
        )
        .distinct()
        .count()
    )
    # every trained token occurs in the encoded corpus, so the id window's
    # input is exactly the distinct tokens of the encoding
    trained = enc.select("token").distinct().count()
    assert trained <= code_points + MERGE_ITERS, (trained, code_points)


def test_corpus_pipeline_broadcasts_drop_set_once(spark):
    """The flagship composition's final adaptive plan: the corpus is
    scanned once PER union branch of the augmented corpus (2 documents
    scans, nothing else), and the pairs-sized drop set resolves at
    runtime to a BroadcastHashJoin LeftAnti whose broadcast exchange is
    built ONCE and reused by the other branch — AQE sees the actual
    drop-set stats, so the static SortMergeJoin guess never executes.
    The composition adds no exchange its stages didn't already have; the
    rollup is a partial/final aggregate pair."""
    from datafusion_distributed_experiment_spark.operators.pipeline import (
        corpus_pipeline,
    )

    from .conftest import SF_DIR

    df = corpus_pipeline(spark, SF_DIR)
    df.collect()  # AQE's broadcast conversion is a runtime decision
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 2, final[:3000]
    assert all("documents" in p for p in _parquet_scan_paths(final)), final[:3000]
    assert final.count("BroadcastHashJoin") == 2, final[:3000]
    assert "LeftAnti" in final and "SortMergeJoin" not in final, final[:3000]
    assert "ReusedExchange" in final, final[:3000]
    assert "partial_count" in final, final[:3000]


def test_dedup_cluster_plans_carry_no_corpus_sized_work(spark):
    """Both clustering queries run ALL iterative CC work during
    construction, on pairs-sized checkpointed state — so the RETURNED plan must touch no parquet and hold
    no aggregate: label-prop's plan is one checkpointed-RDD scan plus the
    range-partitioned presentation sort; star-CC's adds only the
    nodes-to-star-edges output join over two checkpointed-RDD scans
    (pairs-sized hash exchanges — SMJ is the scale-safe choice there: the
    dup-node side needn't fit a broadcast). A parquet scan or aggregate
    appearing here would mean corpus-sized work leaked into the
    per-consumer plan."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    from .conftest import SF_DIR

    df = dedup_clusters(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert "FileScan parquet" not in plan, plan[:3000]
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "rangepartitioning" in plan, plan[:3000]
    assert s["aggregates"] == 0 and s["exchanges"] == 1, (s, plan[:2000])

    df2 = dedup_clusters_star(spark, SF_DIR)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    s2 = stage_summary(df2)
    assert "FileScan parquet" not in plan2, plan2[:3000]
    assert plan2.count("Scan ExistingRDD") == 2, plan2[:3000]
    assert s2["aggregates"] == 0 and s2["exchanges"] == 3, (s2, plan2[:2000])


def test_minhash_pairs_checkpoint_feeds_every_consumer(spark):
    """The signature table is localCheckpoint'd, so ALL its consumers (the
    bucket-cap count, both band self-join sides, and both token join-backs)
    must read the checkpointed RDD — zero parquet scans in the returned
    plan, and no candidate path may degrade to a nested-loop/cartesian
    join (the band bucket key is an equi-join)."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    from .conftest import SF_DIR

    df = minhash_dedup_pairs(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:3000])
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # frequent-bucket suppression rides a broadcast LEFT ANTI, never a
    # shuffle of the big side toward the hub keys
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]


def test_simhash_pairs_single_banded_self_join(spark):
    """Byte-band SimHash LSH: ONE exploded band table self-joined on the
    (band_idx, byte) equi-key — not four per-byte joins — over the
    checkpointed signature table (zero parquet scans downstream); the
    Hamming verify is a map-side filter, so no join may be nested-loop."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    from .conftest import SF_DIR

    df = simhash_dedup_pairs(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:3000])
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # one band explode per side of the single self-join (plus nothing
    # else): four separate per-byte joins would show 8+ Generates
    assert plan.count("Generate explode") <= 4, plan[:3000]


def test_ngram_jaccard_blocked_join_over_checkpointed_tokens(spark):
    """Blocking-key Jaccard: tokenization runs ONCE into the checkpoint
    (zero parquet scans in the returned plan — the three consumers are the
    cap count and both self-join sides), and candidates come from the
    (first-token, length-band) equi-join, never a cartesian verify."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    from .conftest import SF_DIR

    df = ngram_jaccard_pairs(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:3000])
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_kmeans_final_assignment_is_map_only_over_checkpoint(spark):
    """After the last M-step collect, the RETURNED assignment frame must be
    a pure projection over the checkpointed quantized vectors against
    LITERAL centroids: zero parquet scans, zero joins, zero aggregates —
    the only exchange is the presentation sort. Anything else means the
    E-step regressed to a join against a centroid table (a corpus-wide
    shuffle per Lloyd round at scale)."""
    from datafusion_distributed_experiment_spark.operators.selection import (
        kmeans_lloyd_t3,
    )

    from .conftest import SF_DIR

    df = kmeans_lloyd_t3(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:3000])
    assert "Join" not in plan, plan[:3000]
    assert s["aggregates"] == 0, (s, plan[:3000])
    assert s["exchanges"] == 1 and "rangepartitioning" in plan, (s, plan[:2000])


def test_media_resize_single_scan_one_arrow_batch_stage(spark):
    """The resize path is ONE parquet scan into ONE MapInPandas stage (the
    single sanctioned Python boundary, Arrow-batched); metadata rewrite and
    digest projection stay JVM-side above it. Two MapInPandas nodes would
    mean the decode/resize path crosses the Python boundary per step."""
    from datafusion_distributed_experiment_spark.operators.multimodal import (
        media_resize,
    )

    from .conftest import SF_DIR

    df = media_resize(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert s["broadcasts"] == 0 and "Join" not in plan, (s, plan[:3000])


def test_basket_pairs_two_shuffles_then_takeordered(spark):
    """Market-basket mining must stay at exactly TWO shuffles (basket
    collapse on l_orderkey, support aggregate on the pair) with the top-N
    as TakeOrderedAndProject per-partition heaps — a global sort or a
    corpus-sized self-join here is the quadratic trap the basket-array
    explode exists to avoid."""
    from datafusion_distributed_experiment_spark.operators.analytics import (
        basket_pairs,
    )

    from .conftest import SF_DIR

    df = basket_pairs(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])
    assert s["exchanges"] == 2, (s, plan[:3000])
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_repetition_stats_gram_explode_combines_map_side(spark):
    """The 2-gram explode must be absorbed by a map-side partial count
    BEFORE the (doc_id, gram) shuffle — the shuffle carries one row per
    DISTINCT gram per doc (exactly what a high-repetition doc collapses),
    never the raw exploded stream. One corpus scan; the doc-level rollup
    is a second, doc-row-sized exchange."""
    from datafusion_distributed_experiment_spark.operators.curation import (
        repetition_stats,
    )

    from .conftest import SF_DIR

    df = repetition_stats(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])
    assert "partial_count" in plan, plan[:3000]
    # gram shuffle + doc rollup + presentation sort (+ the size-gated
    # narrow-scan rebalance on toy data)
    assert s["exchanges"] <= 4, (s, plan[:3000])
    assert "Join" not in plan, plan[:3000]


def test_domain_token_profile_presentation_plan_is_profile_sized(spark):
    """The corpus-fanout sketch build (shard registers -> merged registers
    -> estimate) runs ONCE at construction into the localCheckpoint'd
    profile; the RETURNED plan must be profile-sized: two checkpointed-RDD
    reads (row side + totals side), the 1-row totals as a BROADCAST nested
    -loop (scalar) join, zero parquet scans. A parquet scan here means the
    profile subtree re-executes per consumer (measured: 6 corpus scans
    instead of 3). The register math itself is pinned on data by the
    merged==direct differential in test_sketches.py."""
    from datafusion_distributed_experiment_spark.operators.sketches import (
        domain_token_profile,
    )

    from .conftest import SF_DIR

    df = domain_token_profile(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, plan[:3000])
    assert plan.count("Scan ExistingRDD") == 2, plan[:3000]
    assert s["broadcasts"] == 1, (s, plan[:3000])


def test_media_features_single_scan_one_python_stage(spark):
    """Feature extraction crosses the Python boundary exactly ONCE (one
    Arrow-batched MapInPandas over one scan); everything else — metadata
    projection, presentation sort — stays JVM-side. Same contract as
    media_resize: a second MapInPandas means a per-step boundary crossing."""
    from datafusion_distributed_experiment_spark.operators.multimodal import (
        media_features,
    )

    from .conftest import SF_DIR

    df = media_features(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "Join" not in plan and s["aggregates"] == 0, (s, plan[:3000])


def test_custom_source_scan_plans_as_dsv2_batch_leaf(spark):
    """The Python DataSource leaf must plan as a DSv2 BatchScan feeding
    ordinary Catalyst operators (filter above the leaf, one presentation
    exchange) — the Spark analog of the reference's user-codec custom leaf
    (reference tests/custom_extension_codec.rs): the extension point is a
    LEAF, not a bolted-on RDD pipeline."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["custom_source_scan"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert "BatchScan" in plan and "(Python)" in plan, plan[:2000]
    assert s["exchanges"] == 1, (s, plan[:2000])  # presentation sort only
    assert "Filter" in plan, plan[:2000]


def test_dedup_exact_is_one_digest_exchange(spark):
    """Exact dedup must be exactly one hash exchange on the content digest
    with a partial/final aggregate split (map-side combine of identical
    texts) — no rebalance exchange (the groupBy IS the fan-out) and no
    join anywhere."""
    from datafusion_distributed_experiment_spark.operators.dedup import dedup_exact

    from .conftest import SF_DIR

    df = dedup_exact(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["aggregates"] == 2, (s, plan[:2000])  # partial + final
    assert s["exchanges"] == 2, (s, plan[:2000])  # digest hash + range sort
    assert "RoundRobinPartitioning" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_asof_join_is_one_window_pass_no_join(spark):
    """The as-of join must plan as union + ONE window pass over the key
    exchange — ZERO join operators of any kind. The naive spelling (theta
    join on ts <= ts, then max) plans a BroadcastNestedLoopJoin that goes
    quadratic per key at scale; its absence is the whole point of the
    union-and-last formulation."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_asof"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]


def test_range_join_is_bucketed_equi_join(spark):
    """The interval range join must reach the executor as an EQUI-join on
    (key, bucket) — the interval side explodes over its covered buckets
    (one Generate) and the containment predicate is a post-join filter.
    A BroadcastNestedLoopJoin here means the inequality predicate leaked
    into the join condition: the all-pairs-per-key trap."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_range_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("Generate explode") == 1, plan[:3000]


def test_table_profile_is_one_expand_pass_no_rescan(spark):
    """All N count(distinct) aggregates must run through ONE Expand inside
    a single partial/final aggregate pass over ONE table scan — a
    per-column rescan (N scans) or N separate aggregate jobs is the shape
    that dies at a 100 TB table width. The per-column output rows come
    from a struct-array explode of the 1-row aggregate, not from joins."""
    from datafusion_distributed_experiment_spark.operators.profile import (
        table_profile,
    )

    from .conftest import SF_DIR

    df = table_profile(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])
    assert plan.count("Expand") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_events_percentiles_hist_windows_run_on_bins_not_facts(spark):
    """The sketch contract: fact rows feed exactly TWO bounded aggregates
    (domain stats, bin counts — both with map-side partial halves); the
    cum-sum window and bin selection run on the BINS*types table. The
    domain stats join the fact stream as a BROADCAST (hint pinned), so no
    fact-sized shuffle exists beyond the two aggregates' own exchanges;
    the window must NOT partition on a fact-table key."""
    from datafusion_distributed_experiment_spark.operators.analytics import (
        events_percentiles_hist,
    )

    from .conftest import SF_DIR

    df = events_percentiles_hist(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["broadcasts"] == 2, (s, plan[:3000])
    assert "partial_count" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]


def test_stream_topk_stateful_plan_shape(spark):
    """The streaming half must execute as: map-side partial aggregate ->
    ONE REQUIRED_BY_STATEFUL_OPERATOR exchange -> StateStoreRestore ->
    merge -> StateStoreSave -> final aggregate — watermark-bounded state,
    one counter per (window, type). The rank half is a batch window over
    the windows*types memory sink: zero parquet, bounded by the aggregate
    cardinality however large the drained stream was. Captured from the
    EXECUTED micro-batch plan (run_to_completion records it; streaming
    plans never surface through the returned batch frame)."""
    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark.streaming.events import (
        LAST_STREAM_PLANS,
    )

    from .conftest import SF_DIR

    df = entry_mod.queries()["stream_topk"](spark, SF_DIR)
    micro = LAST_STREAM_PLANS["stream_topk"]
    assert "StateStoreSave" in micro and "StateStoreRestore" in micro, micro[:3000]
    assert micro.count("REQUIRED_BY_STATEFUL_OPERATOR") == 1, micro[:3000]
    assert "partial_count" in micro, micro[:3000]
    assert "AdaptiveSparkPlan" not in micro, micro[:3000]
    batch = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 0, (s, batch[:3000])
    import re as _re

    assert len(_re.findall(r"\bWindow \[", batch)) == 1, batch[:3000]
    # rank<=N pushed into partial/final WindowGroupLimit: per-partition
    # heaps cap rows BEFORE the day exchange, so the rank pass never
    # materializes more than N rows per (partition, day)
    assert "WindowGroupLimit" in batch, batch[:3000]


def test_quantile_sketch_bottom_k_caps_map_side(spark):
    """The staged mergeable rank sketch's scale contract: BOTH bottom-k
    levels (per-shard partial sketch, merge-of-union) plan as partial/final
    WindowGroupLimit pairs — every input partition forwards at most k rows
    per group into its exchange, so no fact-sized sort ever funnels a whole
    group through one task (the exact-percentiles shape this sketch exists
    to replace at 100 TB). Two fact scans (sample side + true-count side),
    types-sized totals broadcast, never a SortMergeJoin."""
    from datafusion_distributed_experiment_spark.operators.sketches import (
        events_quantile_sketch,
    )

    from .conftest import SF_DIR

    df = events_quantile_sketch(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 2, (s, plan[:3000])
    assert plan.count("WindowGroupLimit") == 4, plan[:3000]
    assert "Partial" in plan and "Final" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert s["broadcasts"] >= 1, (s, plan[:3000])


def test_ivf_pq_corpus_never_shuffles(spark):
    """The staged IVF-PQ+refine operator's scale contract: PQ encode +
    coarse assignment are ONE map-only projection over the checkpointed
    corpus (literal codebook/centroid model state — no exchange on the
    corpus side before the probe join); the (query x probe x LUT) side is
    BROADCAST (BuildLeft), so ADC's per-vector join traffic is the
    PQ_M-byte code array, never the float vector; the refine stage
    broadcasts the shortlist back onto a second map-side corpus pass
    (never a corpus shuffle, never an SMJ); both top-k stages are
    partial/final WindowGroupLimit pairs over candidate rows only.
    Exactly TWO hash exchanges (the two candidate windows) + the
    presentation range sort."""
    import re as _re

    from datafusion_distributed_experiment_spark.operators.similarity import (
        ivf_pq_topk,
    )

    from .conftest import SF_DIR

    df = ivf_pq_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert plan.count("Exchange rangepartitioning") == 1, plan[:3000]
    assert plan.count("BroadcastHashJoin") >= 3 and "BuildLeft" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan[:3000]
    assert plan.count("WindowGroupLimit") == 4, plan[:3000]
    assert "Partial" in plan and "Final" in plan, plan[:3000]
    assert len(_re.findall(r"\bWindow \[", plan)) == 2, plan[:3000]
    # zero parquet in the returned plan: the corpus reads the checkpoint
    assert "FileScan parquet" not in plan, plan[:3000]


def test_ivf_pq_index_serve_reads_bucketed_pruned_index(spark):
    """The index-build/serve split's scale contract: the returned (serve)
    plan's ONLY parquet scan is the persisted index, a hive layout
    partitioned on list_id, and that scan carries PartitionFilters on
    list_id from the probed-list IN-filter — the persistent form of "the
    corpus never shuffles": at 100 TB the probe batch reads only the
    probed lists' directories, PQ_M bytes per vector. Downstream the serve
    kernel is shared with ivf_pq_topk verbatim, so the same exchange
    budget holds: two candidate-window hash exchanges + the presentation
    sort, broadcast probe/shortlist sides, never an SMJ. (The per-query
    pruning bound — one query touches <= IVF_PROBE list directories — and
    prune soundness are pinned in tests/test_ivf_pq_index.py.)"""
    import re

    from datafusion_distributed_experiment_spark.operators.similarity import (
        ivf_pq_index_build,
    )

    from .conftest import SF_DIR

    df = ivf_pq_index_build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(pf) == 1 and "list_id" in pf[0] and " IN" in pf[0], plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert plan.count("Exchange rangepartitioning") == 1, plan[:3000]
    assert plan.count("BroadcastHashJoin") >= 3 and "BuildLeft" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan[:3000]
    assert plan.count("WindowGroupLimit") == 4, plan[:3000]


def test_streaming_micro_batch_plan_shapes(spark):
    """Executed micro-batch audits for the four bounded-replay streaming
    queries (captured by run_to_completion — streaming plans never surface
    through the returned batch frames):

    - stream_sliding: the per-event covering-window expansion is a
      MAP-side Expand absorbed by a partial aggregate BEFORE the single
      REQUIRED_BY_STATEFUL_OPERATOR exchange; state is one counter per
      (window, type), never per event.
    - stream_dedup: StreamingDeduplicateWithinWatermark behind ONE
      stateful exchange — per-key state lives only until the watermark
      passes; no aggregate state at all.
    - stream_enrich: the static dimension joins INSIDE the micro-batch as
      an ordinary BroadcastHashJoin (static sides must never enter
      streaming state); the only stateful operator is the downstream
      windowed aggregate.
    - stream_click_attr: StreamingSymmetricHashJoin with BOTH sides
      exchanged REQUIRED_BY_STATEFUL_OPERATOR — join buffers are bounded
      by the watermark horizon, not stream length."""
    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark.streaming.events import (
        LAST_STREAM_PLANS,
    )

    from .conftest import SF_DIR

    qs = entry_mod.queries()
    for name in ("stream_sliding", "stream_dedup", "stream_enrich", "stream_click_attr"):
        qs[name](spark, SF_DIR)
        assert name in LAST_STREAM_PLANS, name

    m = LAST_STREAM_PLANS["stream_sliding"]
    assert m.count("REQUIRED_BY_STATEFUL_OPERATOR") == 1, m[:3000]
    assert "partial_count" in m, m[:3000]
    i_exch = m.find("REQUIRED_BY_STATEFUL_OPERATOR")
    i_expand = m.find("Expand")
    assert 0 < i_exch < i_expand, (i_exch, i_expand)  # Expand below = map-side

    m = LAST_STREAM_PLANS["stream_dedup"]
    assert "StreamingDeduplicateWithinWatermark" in m, m[:3000]
    assert m.count("REQUIRED_BY_STATEFUL_OPERATOR") == 1, m[:3000]
    assert "StateStoreSave" not in m, m[:3000]  # dedup state, not agg state

    m = LAST_STREAM_PLANS["stream_enrich"]
    assert "BroadcastHashJoin" in m, m[:3000]
    assert "StreamingSymmetricHashJoin" not in m, m[:3000]
    assert m.count("REQUIRED_BY_STATEFUL_OPERATOR") == 1, m[:3000]

    m = LAST_STREAM_PLANS["stream_click_attr"]
    assert "StreamingSymmetricHashJoin" in m, m[:3000]
    assert m.count("REQUIRED_BY_STATEFUL_OPERATOR") == 2, m[:3000]


def test_sessionize_cascade_shares_one_user_exchange(spark):
    """Gap marks, session numbering and the per-user rollup all partition
    on user_id, so EnsureRequirements plans ONE user exchange for the whole
    cascade (the second exchange is the presentation sort); one parquet
    scan, zero joins."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["sessionize"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert s["scans"] == 1 and s["exchanges"] == 2, (s, plan[:3000])
    assert "Join" not in plan, plan[:3000]


def test_kmv_two_level_tree_has_no_window_funnel(spark):
    """The two-level k-min tree is ALL partial/final aggregates — no
    per-group window rank, so no group's distinct hashes ever funnel
    through one task (the flat window-rank plan would)."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_kmv_distinct"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert not _re.search(r"\bWindow \[", plan), plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_media_meta_stats_prunes_payload_synthesis(spark):
    """Catalyst must prune the payload synthesis ENTIRELY out of the
    metadata rollup's executed plan: no content/encode expression survives,
    so on a real (non-synthesized) media table the scan reads only
    (modality, meta) and never the payload bytes — the pruning shape that
    makes 100 TB media tables cheap to inventory."""
    from datafusion_distributed_experiment_spark.operators.multimodal import (
        media_meta_stats,
    )

    from .conftest import SF_DIR

    df = media_meta_stats(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan and "encode" not in plan, plan[:3000]
    assert "MapInPandas" not in plan, plan[:3000]
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])


def test_media_frames_fanout_is_one_python_stage(spark):
    """The rows-out > rows-in frame expansion crosses the Python boundary
    exactly ONCE; the per-media count is an ordinary partial/final
    aggregate above it."""
    from datafusion_distributed_experiment_spark.operators.multimodal import (
        media_frames,
    )

    from .conftest import SF_DIR

    df = media_frames(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "partial_count" in plan, plan[:3000]


def test_salted_enrich_replicates_only_the_dim_side(spark):
    """Static salting must explode ONLY the key-count-sized dimension side
    (inside the broadcast subtree) by the constant salt factor; the skewed
    stream side gets its salt as a map-side hash column and is never
    replicated, and the join stays broadcast."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["salted_events_enrich"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    i_bex, i_exp = plan.find("BroadcastExchange"), plan.find("Generate explode")
    assert 0 < i_bex < i_exp, (i_bex, i_exp)  # explode inside broadcast subtree


def test_split_assign_is_map_only(spark):
    """Deterministic split assignment is a pure map decision: zero joins,
    zero aggregates — only the narrow-scan rebalance and presentation sort."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["split_assign"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = stage_summary(df)
    assert "Join" not in plan and s["aggregates"] == 0, (s, plan[:3000])
    assert s["scans"] == 1, (s, plan[:3000])


def test_window_funcs_share_one_window_operator(spark):
    """All five analytic functions (ROW_NUMBER/NTILE/PERCENT_RANK/
    CUME_DIST/LEAD) declare the same window spec, so the plan must carry
    exactly ONE Window operator — one sort exchange for the lot."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_window_funcs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert len(_re.findall(r"\bWindow \[", plan)) == 1, plan[:3000]


def test_ngram_top_absorbs_explode_and_heaps_topn(spark):
    """The n-gram explode must be absorbed by a map-side partial count
    (the shuffle carries one row per distinct gram, never the exploded
    token stream) and top-N must be TakeOrderedAndProject heaps — a global
    sort of the gram table is the shape that dies at corpus vocabulary
    scale."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["ngram_top"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    s = stage_summary(df)
    assert s["sorts"] == 0, (s, plan[:3000])


def test_text_scores_are_map_only(spark):
    """quality_score and token_count are pure map-only JVM expression
    pipelines: zero joins/aggregates/windows; the only exchanges are the
    narrow-scan rebalance and the presentation sort. A join or aggregate
    appearing here means a scoring signal started shuffling the corpus."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()
    for name in ("quality_score", "token_count"):
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = stage_summary(df)
        assert "Join" not in plan and s["aggregates"] == 0, (name, s, plan[:2000])
        assert not _re.search(r"\bWindow \[", plan), (name, plan[:2000])
        assert s["scans"] == 1 and s["exchanges"] <= 2, (name, s)


def test_anomaly_days_window_runs_on_collapsed_days(spark):
    """Fact rows must collapse to (user, day) counts in a partial/final
    aggregate BEFORE the mean/stddev window — the window's input is
    user-day cardinality, never raw events; zero joins."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["anomaly_days"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:3000]
    assert "partial_count" in plan, plan[:3000]
    assert len(_re.findall(r"\bWindow \[", plan)) == 1, plan[:3000]
    # plan prints parents first: the window must appear ABOVE (before) the
    # day-count aggregate it consumes
    assert plan.find("Window [") < plan.rfind("HashAggregate"), plan[:3000]


def test_event_sequences_sorts_inside_the_aggregate(spark):
    """Per-user ordering happens as array_sort INSIDE the aggregate (one
    user_id exchange, map-side partial collect) — no window, no global sort
    of the fact table."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["event_sequences"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the ordering lives in the aggregate's result expression (array_sort
    # over the collected structs — not rendered in the plan text); what the
    # plan CAN show: a partial/final collect_list pair and no Window/Sort
    # imposing a global order
    assert "partial_collect_list" in plan, plan[:3000]
    assert not _re.search(r"\bWindow \[", plan), plan[:3000]
    assert "Join" not in plan, plan[:3000]
    s = stage_summary(df)
    assert s["exchanges"] <= 2, (s, plan[:3000])  # user agg + presentation


def test_events_json_parses_map_side_once(spark):
    """from_json evaluates map-side before the single aggregate exchange —
    typed extraction, not a per-field reparse."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_json"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "from_json" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    s = stage_summary(df)
    assert s["scans"] == 1 and s["aggregates"] >= 2, (s, plan[:3000])


def test_events_pivot_is_two_phase_no_self_join(spark):
    """Native pivot: both aggregate levels split partial/final; the wide
    schema is a projection — never the naive one-self-join-per-column
    spelling."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_pivot"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:3000]
    s = stage_summary(df)
    assert s["aggregates"] == 4 and s["scans"] == 1, (s, plan[:3000])


def test_events_unpivot_is_one_expand(spark):
    """Native unpivot plans as ONE map-side Expand — zero joins, zero
    Generate; the long form costs no shuffle beyond the aggregate it
    inverts."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["events_unpivot"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan[:3000]
    assert "Join" not in plan and "Generate" not in plan, plan[:3000]


def test_retention_cohorts_from_collapsed_days_no_join(spark):
    """Cohort assignment is a min-day window over (user, day) rows already
    collapsed by a partial/final aggregate; the full cohort/day matrix
    needs ONE scan and zero joins — the self-join cohort spelling doubles
    the fact-table cost."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["retention"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:3000]
    assert len(_re.findall(r"\bWindow \[", plan)) == 1, plan[:3000]
    s = stage_summary(df)
    assert s["scans"] == 1, (s, plan[:3000])


def test_simhash_signatures_aggregate_formulation(spark):
    """The signature is explode -> 32 conditional SUMs as ONE partial/final
    aggregate: one slim 32-long row per doc per map partition crosses the
    shuffle (the map-only HOF fold benched 2-4x slower — interpreted
    lambdas allocate per token). Two scans = the corpus union's documents
    branch + its augmented slice, whose modulo filter evaluates AT the
    scan."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["simhash_signatures"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert not _re.search(r"\bWindow \[", plan), plan[:3000]
    s = stage_summary(df)
    assert s["scans"] == 2, (s, plan[:3000])
    # the augmented slice's filter sits at its scan, not above the union
    assert "(doc_id" in plan[plan.rfind("FileScan") - 600 :], plan[-1200:]


def test_tpch_hard_shapes_decorrelate_and_semi_anti_join(spark):
    """Structural pins for the hardest TPC-H constructs — facts stable
    across data sizes (broadcast-vs-SMJ choices are size-dependent and NOT
    pinned here):

    - q17's correlated scalar subquery must DECORRELATE to one grouped
      aggregate joined back — a per-row subquery re-execution would appear
      as a nested-loop join.
    - q18's HAVING-subquery and q20's nested IN/EXISTS chain plan as
      LeftSemi equi-joins; q21's NOT EXISTS as a LeftAnti. None of them
      may degrade to BroadcastNestedLoopJoin/CartesianProduct.
    - q18/q21 top-100 is TakeOrderedAndProject (per-partition heaps),
      never a global sort.
    - q13's LEFT OUTER must keep its NOT LIKE residual inside the join
      (a post-join filter would silently drop the outer rows)."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()

    def plan(n):
        return qs[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()

    p17 = plan("q17")
    assert "BroadcastNestedLoopJoin" not in p17 and "CartesianProduct" not in p17
    assert "partial_avg" in p17 or "avg(" in p17, p17[:3000]
    assert p17.count("HashAggregate") >= 2, p17[:3000]  # decorrelated agg + outer agg

    for n in ("q18", "q20", "q21"):
        p = plan(n)
        assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
            n,
            p[:3000],
        )
        assert "LeftSemi" in p, (n, p[:3000])
    p21 = plan("q21")
    assert "LeftAnti" in p21, p21[:3000]
    for n in ("q18", "q21"):
        assert "TakeOrderedAndProject" in plan(n), n

    p13 = plan("q13")
    assert "LeftOuter" in p13, p13[:3000]
    # the NOT LIKE references only the inner (orders) side, so Catalyst
    # pushes it BELOW the outer join into the orders branch — stronger than
    # a join residual (the filter runs before the build), and safe: outer
    # rows are NULL-extended after it. It must appear under the join, and
    # never as a post-join filter above it (which would drop outer rows).
    i_join, i_like = p13.find("LeftOuter"), p13.lower().find("like")
    assert 0 < i_join < i_like, (i_join, i_like, p13[:3000])


def test_tpch_join_agg_family_never_nested_loops(spark):
    """The TPC-H join+aggregate family: every quantifier and dimension hop
    must reach the executor as an equi-join — BroadcastNestedLoopJoin or
    CartesianProduct anywhere in these thirteen plans means a predicate
    leaked out of a join condition. Named quantifier pins: q4's EXISTS is
    a LeftSemi, q16's NOT IN and q22's NOT EXISTS are LeftAnti; q10's
    top-20 is TakeOrderedAndProject."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()
    plans = {}
    for n in ("q2", "q4", "q5", "q7", "q8", "q9", "q10", "q11", "q12", "q14", "q16", "q19", "q22"):
        p = qs[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in p, (n, p[:3000])
        assert "CartesianProduct" not in p, (n, p[:3000])
        plans[n] = p
    assert "LeftSemi" in plans["q4"], plans["q4"][:3000]
    assert "LeftAnti" in plans["q16"], plans["q16"][:3000]
    assert "LeftAnti" in plans["q22"], plans["q22"][:3000]
    assert "TakeOrderedAndProject" in plans["q10"], plans["q10"][:3000]


def test_adhoc_sql_family_shapes(spark):
    """Ad-hoc SQL corpus shapes: single-scan partial/final aggregates for
    the rollup family, ROLLUP as ONE Expand (never one pass per grouping
    set), INTERSECT/EXCEPT as LeftSemi/LeftAnti equi-joins, and exactly
    one Window operator for each analytic query."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()

    def plan(n):
        return qs[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()

    for n in ("events_agg_count", "events_daily", "events_median", "q1_decimal"):
        p = plan(n)
        assert "partial_" in p and "Join" not in p, (n, p[:2500])
        assert p.count("FileScan parquet") == 1, (n, p[:2500])
    p = plan("events_rollup")
    assert p.count("Expand") == 1 and "Join" not in p, p[:2500]
    p = plan("events_setops")
    assert "LeftSemi" in p and "LeftAnti" in p, p[:2500]
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p[:2500]
    for n in ("events_rolling", "events_topk", "events_latest"):
        p = plan(n)
        assert len(_re.findall(r"\bWindow \[", p)) == 1, (n, p[:2500])
        assert "Join" not in p, (n, p[:2500])


def test_map_only_curation_and_text_family(spark):
    """The map-only contract across the curation/text/quantize tier: zero
    joins, zero aggregates, zero windows — one scan plus at most the
    rebalance and presentation exchanges. chunk_documents additionally
    pins its ONE Generate (posexplode of chunk bounds)."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()
    for n in ("pii_scrub", "embedding_quantize", "chunk_documents", "text_stats", "lang_id", "fingerprint"):
        df = qs[n](spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
        s = stage_summary(df)
        assert "Join" not in p and s["aggregates"] == 0, (n, s, p[:2500])
        assert not _re.search(r"\bWindow \[", p), (n, p[:2500])
    p = qs["chunk_documents"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Generate") == 1, p[:2500]


def test_sampler_windows_stay_partitioned(spark):
    """stratified_sample and shuffle_shards each carry exactly ONE window,
    and it is PARTITIONED (per-stratum / per-shard) — an unpartitioned
    window here would funnel the corpus through one task."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    qs = entry_mod.queries()
    for n in ("stratified_sample", "shuffle_shards"):
        p = qs[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        wins = _re.findall(r"\bWindow \[[^\n]*", p)
        assert len(wins) == 1, (n, p[:2500])
        assert "windowspecdefinition(" in wins[0] and not wins[0].startswith(
            "Window [windowspecdefinition()"
        ), (n, wins[0][:300])
        assert "Join" not in p, (n, p[:2500])


def test_media_dedup_shuffles_digest_only(spark):
    """The media dedup groupBy keys on (modality, md5 digest): the digest
    computes map-side and only it crosses the exchange — the payload column
    never appears above the partial aggregate."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["media_dedup"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in p or "partial_count" in p, p[:2500]
    assert "Join" not in p, p[:2500]
    s = stage_summary(df)
    assert s["scans"] == 1 and s["aggregates"] == 2, (s, p[:2500])


def test_embedding_topk_bnlj_is_the_brute_force_contract(spark):
    """The brute-force baseline DOES use a BroadcastNestedLoopJoin — by
    contract: all-pairs scoring of a K-row broadcast query side against one
    map-side corpus scan (the ANN variants are the scale path). The
    broadcast must be the query side (tiny), and ranking is one per-query
    window."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["embedding_topk"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p, p[:2500]
    assert len(_re.findall(r"\bWindow \[", p)) == 1, p[:2500]


def test_decontaminate_probes_with_broadcast_semi_join(spark):
    """Eval n-grams must reach the corpus as a BROADCAST LeftSemi probe —
    the corpus is filtered before any wide work; a shuffle-side semi join
    or a cartesian n-gram comparison dies at corpus scale."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["decontaminate"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p and "Broadcast" in p, p[:2500]
    assert "CartesianProduct" not in p, p[:2500]


def test_domain_mix_totals_join_is_scalar_broadcast(spark):
    """domain_mix's only nested-loop join is the 1-row corpus totals
    broadcast (the scalar-join spelling); everything else is partial/final
    aggregates."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["domain_mix"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastNestedLoopJoin") == 1, p[:2500]
    s = stage_summary(df)
    assert s["aggregates"] >= 4, (s, p[:2500])


def test_cdc_snapshot_never_shuffles(spark):
    """The CDC merge broadcasts the CHANGES onto the snapshot (BuildRight)
    — the snapshot side crosses no exchange. The plan's exchanges are the
    presentation sort plus the DELTA-SIZED hash exchanges the round-13
    duplicate-key guard windows require on the change-batch lineage (one
    per batch consumer); the snapshot path to the join stays exchange-free
    (pinned structurally in test_cdc.py::test_cdc_snapshot_side_is_map_only)."""
    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["cdc_apply_changes"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "BuildRight" in p, p[:2500]
    s = stage_summary(df)
    # 1 range (sort) + 2 hash (dup-guard windows: ud + insert consumers)
    assert s["exchanges"] == 3, (s, p[:2500])
    hash_ex = [
        line
        for line in p.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_ex) == 2 and all("c_custkey" in h for h in hash_ex), hash_ex


def test_pack_sequences_is_one_running_sum_window(spark):
    """Greedy packing = ONE running-sum window + integer DIV bin ids + a
    per-bin aggregate — no iterative loop, no join."""
    import re as _re

    import __spark_entry__ as entry_mod

    from .conftest import SF_DIR

    df = entry_mod.queries()["pack_sequences"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"\bWindow \[", p)) == 1, p[:2500]
    assert "Join" not in p, p[:2500]
    s = stage_summary(df)
    assert s["aggregates"] == 2, (s, p[:2500])
