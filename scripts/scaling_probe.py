#!/usr/bin/env python
"""Empirical scaling probe: run the algorithmically-interesting operators at
sf0.001 / sf0.01 / sf0.1 (10x data steps) and report wall-clock growth.

A bucketed/blocked operator should grow roughly linearly with input size
(growth factor ~= 10 per step, usually much less while fixed overheads
dominate); a pair-explosion bug shows up as a super-linear jump (>= ~30x on a
10x step once out of the overhead-dominated regime). This is evidence for the
scale-design claims in SURVEY.md section 2.E, not a benchmark — one warm
execution per (op, sf).

Usage: python scripts/scaling_probe.py [op ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# The operators whose scaling is non-obvious (candidate-pair generation,
# iterative convergence, sketching, windows) — the ones a reviewer would ask
# "but does it blow up?" about.
PROBE_OPS = [
    "minhash_dedup_pairs",
    "simhash_dedup_pairs",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "dedup_incremental",
    "embedding_dedup",
    "ann_lsh",
    "ann_ivf",
    "events_asof",
    "events_range_join",
    "events_kmv_distinct",
    "user_sessions",
    "corpus_pipeline",
    "domain_resample",
    "dedup_clusters_star",
    "salted_events_enrich",
    # round-5 additions: window cascades, collected-sequence state, corpus
    # explode + broadcast-df join, iterative rank joins, bitmap build+probe
    "funnel",
    "event_sequences",
    "top_terms",
    "pagerank_nations",
    "bloom_semi_agg",
    # selection tier: K-way broadcast distance fan-out, banded prefix sum
    "kmeans_assign",
    "token_budget_select",
    # round-6 additions: cluster-confined pairwise cosine, CDC chunk joins,
    # iterative Lloyd rounds
    "semantic_dedup",
    "chunk_overlap",
    "kmeans_lloyd_t3",
    # round-6 wave 2 (incl. staged ops): n-gram span islands, oriented
    # triangle wedges, inverted-index scoring, feature-hash ratio weights,
    # vocabulary-sized merge iterations
    "ngram_span_dedup",
    "triangle_count",
    "bm25_topk",
    "dsir_weights",
    "bpe_merges_t2",
    "winnow_fingerprints",
    "cms_heavy_hitters",
    "span_scrub",
    "lpa_communities_t3",
    "bfs_hops_t3",
    # round-7 staged additions: corpus encode under a broadcast model,
    # fixed-register sketch build, map-only weighted top-k
    "bpe_apply",
    "hll_distinct",
    "weighted_sample",
    # round-9 staged addition: two-level sharded HLL register merge
    "domain_token_profile",
    # round-10: the r9-rewritten map-only shapes (array_min/transform
    # signature fold; single-MapInPandas resize) + the staged bottom-k rank
    # sketch — probe each ALONE in a fresh JVM (single-op invocations) per
    # the probe-order variance doctrine
    "minhash_signatures",
    "media_resize",
    "events_quantile_sketch",
    # round-11 staged: PQ encode is a map-only literal-codebook argmin and
    # the probe join broadcasts the query side — candidate volume should
    # grow ~sqrt(N) per query, never N
    "ivf_pq_topk",
    # round-12 staged: the same serve kernel over a PERSISTED bucketed
    # index — build adds one bucketed write (linear in the corpus), serve
    # reads only probed buckets, so growth must track ivf_pq_topk's
    "ivf_pq_index_build",
    # round-13 staged: index refresh under a CDC batch — merge + frozen-
    # model encode of the merged corpus + one partitioned write (all
    # linear in the corpus) + serve; growth must track
    # ivf_pq_index_build's
    "ivf_pq_index_upsert",
    # round-14 staged: the dedup-tier refresh — band rows of the merged
    # corpus in one partitioned write (linear in corpus tokens) + delta
    # signature encode + partition-pruned probe; candidate volume is
    # bounded by |delta bands| x bucket cap, so growth must stay linear
    # (never the pair explosion the cap exists to prevent)
    "minhash_index_upsert",
]


# --xstep: probe ONE more 10x step past sf0.1 for the riskiest
# candidate-generation / iterative / prefix-sum operators, against a
# synthetic 10x documents corpus (sf0.1 replicated with per-copy salted
# text so replicas are NOT near-duplicates of each other — the pair graph
# grows linearly with the corpus, which is exactly the property under test,
# instead of quadratically by construction of the fixture).
XSTEP_OPS = [
    "minhash_dedup_pairs",
    "dedup_clusters_star",
    "token_budget_select",
    # round-6: the token-explode-heavy span/fingerprint family — the ops
    # whose position tables grow linearly with corpus tokens
    "ngram_span_dedup",
    "span_scrub",
    "winnow_fingerprints",
    # round-6 wave 3: postings restriction under a 10x query set, bounded
    # feature space, vocabulary growth under genuinely-new words
    "bm25_topk",
    "dsir_weights",
    "bpe_merges_t2",
    # round-7: corpus encode — output (and its collect) grows with corpus
    # tokens; vocabulary grows 10x under the rotated-copy fixture, so both
    # broadcast model sides grow too
    "bpe_apply",
    # round-7: weighted top-k — output constant at k, cost one scan
    "weighted_sample",
    # round-9: sharded HLL register merge — state capped at m x shards per
    # source; the 10x vocabulary step grows only the register OCCUPANCY
    "domain_token_profile",
    # round-14: the staged dedup maintain cycle — documents-only, and the
    # op whose candidate volume a 10x corpus most wants to blow up; the
    # rotated-copy fixture grows the corpus by genuinely-new documents, so
    # band buckets stay small and growth must track the base write
    "minhash_index_upsert",
]
XSTEP_FACTOR = 10
XSTEP_DIR = "/tmp/scaling_docs_x10"
# Bump when the fixture construction changes — stale cached dirs rebuild.
XSTEP_VERSION = "v2-full-alphabet-rotation"


def build_xstep_dir(spark) -> str:
    import os

    from functools import reduce

    # The fixture is a pure function of (sf0.1 documents, the rotation);
    # single-op fresh-JVM invocations would otherwise rebuild the most
    # expensive step of the run once per op — reuse a version-stamped dir.
    marker = f"{XSTEP_DIR}/.fixture_version"
    try:
        with open(marker) as fh:
            if fh.read().strip() == XSTEP_VERSION:
                return XSTEP_DIR
    except OSError:
        pass

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    # Per-copy character rotation over 10 letters: every token of every copy
    # hashes differently from every other copy's, so shingle sets, minhash
    # signatures AND distinct-token sets are all cross-copy dissimilar — the
    # corpus grows by genuinely-new documents (the real 100 TB growth mode),
    # each copy carrying its own intact near-dup structure. A prefix-only
    # salt was tried first and is a trap: it perturbs two shingles out of
    # hundreds, making every copy a ~99% near-dup of its siblings and
    # growing the TRUE pair count quadratically by construction — the
    # fixture, not the operator, blows up.
    # FULL alphabet, rotated by the copy index: with the earlier 10-letter
    # (a-j) salt, ~10% of corpus tokens ('sort', 'row', ...) contained no
    # a-j character and stayed byte-identical across all 10 copies,
    # quietly re-introducing a slice of cross-copy overlap (vocabulary
    # grew ~9x, not 10x). Ten distinct shifts over 26 letters leave no
    # letter fixed, so any token with a letter differs in every copy.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    copies = [
        docs.select(
            (F.col("doc_id") + F.lit(c * 10_000_000)).alias("doc_id"),
            (
                F.translate(F.col("text"), alpha, alpha[c:] + alpha[:c])
                if c
                else F.col("text")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for c in range(XSTEP_FACTOR)
    ]
    big = reduce(DataFrame.unionAll, copies)
    big.repartition(32).write.mode("overwrite").parquet(f"{XSTEP_DIR}/documents.parquet")
    with open(marker, "w") as fh:
        fh.write(XSTEP_VERSION)
    return XSTEP_DIR


def main() -> int:
    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark import build_session

    args = sys.argv[1:]
    xstep = "--xstep" in args
    args = [a for a in args if a != "--xstep"]
    only = args or (XSTEP_OPS if xstep else PROBE_OPS)
    spark = build_session(app_name="scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    # validate up front: a typo'd op would otherwise KeyError AFTER the
    # earlier ops' minutes of probing, discarding the whole run's output
    unknown = [n for n in only if n not in queries]
    if unknown:
        print(f"unknown op names: {unknown}", file=sys.stderr)
        return 2
    if xstep:
        # the xstep dir holds ONLY documents.parquet; any op outside
        # XSTEP_OPS would crash on its other table reads after the three
        # real scale steps already ran — reject the mismatch up front
        non_xstep = [n for n in only if n not in XSTEP_OPS]
        if non_xstep:
            print(
                f"--xstep supports only the documents-only ops {XSTEP_OPS}; "
                f"not: {non_xstep}",
                file=sys.stderr,
            )
            return 2
    sf_dirs = SF_DIRS + ([build_xstep_dir(spark)] if xstep else [])

    out: dict[str, dict] = {}
    for name in only:
        fn = queries[name]
        times, rows = [], []
        for sf_dir in sf_dirs:
            fn(spark, sf_dir).collect()  # warm: listing, codegen, caches
            # evict the warm run's cached blocks so the measured run
            # rebuilds the operator's whole declared pipeline
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows.append(len(fn(spark, sf_dir).collect()))
            times.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        growth = [
            round(times[i + 1] / times[i], 2) if times[i] > 0 else None
            for i in range(len(times) - 1)
        ]
        out[name] = {"sec": times, "rows": rows, "growth_per_10x": growth}
        print(f"{name:22s} sec={times} rows={rows} growth/10x={growth}", flush=True)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
