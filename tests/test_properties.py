"""Property-based tests (hypothesis) for the operators with real algorithmic
content: distributed connected components vs a union-find oracle, the
SQL-script splitter's string/comment handling, and ANN recall floors.

Spark runs per example are expensive; example counts are deliberately small
and deadlines disabled — these are depth tests, not fuzz volume."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ------------------------------------------------------------------ #
# connected components vs union-find
# ------------------------------------------------------------------ #

def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label every node with its component's min id
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_star_connected_components_matches_union_find(spark, edges):
    """Same property for the O(log n)-round large-star/small-star variant —
    both algorithms must agree with union-find on arbitrary graphs."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components_star(pairs).collect()
    }
    assert got == _union_find(edges)


# ------------------------------------------------------------------ #
# SQL script splitter: quotes, escaped quotes, comments
# ------------------------------------------------------------------ #

_FRAGMENTS = st.lists(
    st.sampled_from(
        [
            "SELECT 1",
            "SELECT 'a;b'",
            "SELECT 'it''s'",
            "SELECT 2 -- trailing; comment 'with quote\n",
            "-- full line; comment\nSELECT 3",
            "CREATE VIEW v AS SELECT ';' AS semi",
        ]
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=50, deadline=None)
@given(_FRAGMENTS)
def test_split_sql_script_statement_count(fragments):
    from datafusion_distributed_experiment_spark.engine import split_sql_script

    script = ";\n".join(fragments) + ";"
    out = split_sql_script(script)
    assert len(out) == len(fragments), (script, out)
    # every original fragment survives, stripped, in order
    for frag, stmt in zip(fragments, out):
        assert frag.strip().splitlines()[-1].split("--")[0].strip()[:6] in stmt


# ------------------------------------------------------------------ #
# ANN recall floor vs brute force
# ------------------------------------------------------------------ #

def test_ann_ivf_recall_floor(spark):
    """IVF top-3 must recover a healthy fraction of the brute-force top-3:
    approximate is allowed to miss, but a broken index (wrong list
    assignment, bad probe selection) collapses recall toward zero."""
    from datafusion_distributed_experiment_spark.operators.similarity import (
        IVF_TOP_K,
        ann_ivf,
        embedding_topk,
    )
    from .conftest import SF_DIR

    truth = {}
    for r in embedding_topk(spark, SF_DIR).collect():
        if r["rank"] <= IVF_TOP_K:
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ann_ivf(spark, SF_DIR).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    common_queries = set(truth) & set(approx)
    assert common_queries, "query sets must overlap"
    hits = sum(len(truth[q] & approx[q]) for q in common_queries)
    total = sum(len(truth[q]) for q in common_queries)
    recall = hits / total
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.2f} ({hits}/{total})"


# ------------------------------------------------------------------ #
# as-of join vs in-Python reference on adversarial shapes
# ------------------------------------------------------------------ #

def _py_asof(left_rows, right_rows, strict):
    """Pure-Python as-of: for each (k, ts, lid) left row, the right payload
    with the max right ts <= (or <) ts among equal keys."""
    out = []
    for k, ts, lid in left_rows:
        cands = [
            (rts, payload)
            for rk, rts, payload in right_rows
            if rk == k and (rts < ts if strict else rts <= ts)
        ]
        best = max(cands) if cands else (None, None)
        out.append((k, ts, lid, best[0], best[1]))
    return sorted(out)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), max_size=25),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), max_size=25, unique=True),
    strict=st.booleans(),
)
def test_asof_join_property(spark, left, right, strict):
    """Duplicate left timestamps, equal-ts collisions, keys with no right
    rows, empty sides — the union+window kernel must agree with the
    quadratic Python reference everywhere."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from datafusion_distributed_experiment_spark.operators.temporal import asof_join

    left_rows = [(k, ts, i) for i, (k, ts) in enumerate(left)]
    right_rows = [(k, ts, 1000 + k * 100 + ts) for k, ts in right]  # unique (k, ts)
    l_schema = StructType(
        [StructField(n, LongType()) for n in ("k", "ts", "lid")]
    )
    r_schema = StructType(
        [StructField(n, LongType()) for n in ("k", "ts", "payload")]
    )
    ldf = spark.createDataFrame(left_rows, l_schema)
    rdf = spark.createDataFrame(right_rows, r_schema)
    got = sorted(
        (r.k, r.ts, r.lid, r.ts_asof, r.payload)
        for r in asof_join(
            ldf, rdf, on=["k"], ts="ts", payloads=["payload"], strict=strict
        ).collect()
    )
    assert got == _py_asof(left_rows, right_rows, strict)


def test_text_ops_tolerate_null_and_empty_documents(spark):
    """A 100 TB crawl WILL contain null and empty text; the text tier must
    process such rows without raising, and emit row-preserving output (null
    feature values are acceptable, lost or crashed rows are not)."""
    from datafusion_distributed_experiment_spark.operators.text import (
        quality_frame,
        stats_frame,
        token_frame,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, None), (4, "   "), (5, "x")],
        "doc_id long, text string",
    )
    for frame in (stats_frame(docs), token_frame(docs), quality_frame(stats_frame(docs))):
        rows = frame.collect()
        assert len(rows) == 5, rows
        assert {r["doc_id"] for r in rows} == {1, 2, 3, 4, 5}


def test_curation_ops_tolerate_null_and_empty_documents(spark, tmp_path):
    """Same hardening for the curation tier: chunking, packing and splits
    over a corpus containing null/empty/whitespace-only documents."""
    from datafusion_distributed_experiment_spark.operators.curation import (
        chunk_documents,
        pack_sequences,
        split_assign,
    )

    docs = spark.createDataFrame(
        [
            (1, "some real text here", "en", "srcA", 19),
            (2, "", "en", "srcA", 0),
            (3, None, "en", "srcB", None),
            (4, "   ", "unk", "srcB", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(f"{d}/documents.parquet")

    splits = split_assign(spark, d).collect()
    assert {r["doc_id"] for r in splits} == {1, 2, 3, 4}

    chunks = chunk_documents(spark, d).collect()
    # row-preserving: null/empty docs yield exactly one chunk; since the
    # round-13 NULL-text-as-empty contract (_docs coalesces, oracles
    # mirror — size(tokens(NULL)) = -1 silently corrupted token totals),
    # a NULL document chunks exactly like an empty one
    assert {r["doc_id"] for r in chunks} == {1, 2, 3, 4}
    by_id = {r["doc_id"]: r for r in chunks if r["doc_id"] in (2, 3)}
    assert by_id[2]["chunk_text"] == ""
    assert by_id[3]["chunk_text"] == ""

    packs = pack_sequences(spark, d).collect()
    # zero-default accounting: the NULL-text doc packs with 0 tokens —
    # ALL four docs survive (it previously carried size(NULL) = -1)
    assert sum(r["n_docs"] for r in packs) == 4


# ------------------------------------------------------------------ #
# range join vs brute force
# ------------------------------------------------------------------ #

@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=1, max_size=25),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=15,
    ),
    st.sampled_from([7, 64, 1000]),
)
def test_range_join_property(spark, probes, raw_ivs, bucket_ms):
    """Bucketed-explode range join vs the quadratic Python reference:
    duplicate probes/intervals, zero-length intervals, interval lengths
    spanning less than one bucket up to many buckets, keys with no match —
    each qualifying (probe, interval) pair must appear EXACTLY once
    (the single-bucket membership argument), with multiplicity preserved
    for duplicates."""
    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_distributed_experiment_spark.operators.temporal import (
        range_join_intervals,
    )

    ivs = [(k, s, s + ln) for k, s, ln in raw_ivs]
    p_schema = StructType([StructField(n, LongType()) for n in ("k", "ts")])
    i_schema = StructType([StructField(n, LongType()) for n in ("k", "s", "e")])
    pdf = spark.createDataFrame(probes, p_schema)
    idf = spark.createDataFrame(ivs, i_schema)
    got = sorted(
        (r.k, r.ts, r.s, r.e)
        for r in range_join_intervals(
            pdf, idf, on=["k"], ts="ts", start="s", end="e", bucket_ms=bucket_ms
        ).collect()
    )
    want = sorted(
        (pk, pt, ik_s, ik_e)
        for pk, pt in probes
        for ik, ik_s, ik_e in ivs
        if pk == ik and ik_s <= pt <= ik_e
    )
    assert got == want


# ------------------------------------------------------------------ #
# funnel vs a sequential Python fold
# ------------------------------------------------------------------ #

def _funnel_reference(events):
    """Brute-force: walk each user's (ts, id)-sorted events, recording the
    first view, first click strictly after it, first purchase strictly
    after that."""
    by_user = {}
    for eid, uid, typ, ts in events:
        by_user.setdefault(uid, []).append((ts, eid, typ))
    out = {}
    for uid, evs in by_user.items():
        t1 = t2 = t3 = None
        for ts, _eid, typ in sorted(evs):
            if typ == "view" and t1 is None:
                t1 = ts
            elif typ == "click" and t2 is None and t1 is not None and ts > t1:
                t2 = ts
            elif typ == "purchase" and t3 is None and t2 is not None and ts > t2:
                t3 = ts
        out[uid] = (t1, t2, t3, sum(t is not None for t in (t1, t2, t3)))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(0, 30),  # ts (small domain -> deliberate ties)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_sequential_fold(spark, raw):
    from datafusion_distributed_experiment_spark.operators.analytics import funnel_frame

    events = [(i, uid, typ, ts) for i, (uid, typ, ts) in enumerate(raw)]
    df = spark.createDataFrame(
        events, "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG"
    )
    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.stages_completed)
        for r in funnel_frame(df).collect()
    }
    assert got == _funnel_reference(events)


# ------------------------------------------------------------------ #
# bloom filter: no false negatives, ever
# ------------------------------------------------------------------ #

@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.sets(st.integers(-(2**40), 2**40), min_size=1, max_size=200))
def test_bloom_never_drops_a_member(spark, keys):
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.joins import (
        bloom_filter_words,
        bloom_might_contain,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k LONG")
    words = bloom_filter_words(df, "k", n_bits=1 << 12)
    assert df.filter(~bloom_might_contain(words, "k")).count() == 0


# ------------------------------------------------------------------ #
# pagerank vs a pure-Python integer replica
# ------------------------------------------------------------------ #

def _pagerank_reference(n_nodes, edges, iters):
    from collections import defaultdict

    out_w = defaultdict(int)
    for s, _d, w in edges:
        out_w[s] += w
    base = 150_000_000 // n_nodes
    r = {v: 1_000_000_000 // n_nodes for v in range(n_nodes)}
    for _ in range(iters):
        inflow = defaultdict(int)
        for s, d, w in edges:
            inflow[d] += ((r[s] * 85) // 100) * w // out_w[s]
        r = {v: base + inflow[v] for v in range(n_nodes)}
    return r


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(2, 8),
    st.data(),
)
def test_pagerank_matches_python_replica(spark, n_nodes, data):
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.operators.graph import pagerank_frame

    edge_list = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n_nodes - 1),
                st.integers(0, n_nodes - 1),
                st.integers(1, 50),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda e: (e[0], e[1]),
        )
    )
    nodes = spark.createDataFrame([(v,) for v in range(n_nodes)], "v LONG")
    edges = spark.createDataFrame(edge_list, "src LONG, dst LONG, w LONG")
    got = {r.v: r.rank_ppb for r in pagerank_frame(nodes, edges, iters=2).collect()}
    assert got == _pagerank_reference(n_nodes, edge_list, iters=2)


# ------------------------------------------------------------------ #
# int8 quantization vs a Python replica of the integer pipeline
# ------------------------------------------------------------------ #

import math as _math


def _quantize_reference(vec):
    xp = [_math.floor(1e6 * x) for x in vec]
    scale = max(max(abs(v) for v in xp), 1)
    q = [(v * 127) // scale if v >= 0 else -((-v * 127) // scale) for v in xp]
    return (
        len(q),
        scale,
        sum(q),
        sum(v * v for v in q),
        q[0],
        q[-1],
    )


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(
            # float32-representable values, the embeddings column's domain
            st.floats(-2.0, 2.0, width=32, allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_quantize_matches_python_replica(spark, vecs):
    from datafusion_distributed_experiment_spark.operators.similarity import (
        quantize_frame,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = {
        r.vec_id: (r.n_dims, r.scale_ppm, r.q_sum, r.q_l2, r.q_first, r.q_last)
        for r in quantize_frame(df).collect()
    }
    expect = {i: _quantize_reference(v) for i, v in enumerate(vecs)}
    assert got == expect


# ------------------------------------------------------------------ #
# native session_window vs a Python reference (boundary-exact)
# ------------------------------------------------------------------ #

def _sessions_reference(rows, gap):
    """Inclusive-gap merge semantics: an event EXACTLY `gap` after the
    previous one still joins the session — Spark's session_window extends
    while next_ts <= current window end (= prev + gap); only a STRICTLY
    larger gap starts a new session. (Empirically pinned: [(0,0),(0,100)]
    @ gap 100 yields ONE session [0, 200).)"""
    by_user = {}
    for uid, ts in rows:
        by_user.setdefault(uid, []).append(ts)
    out = []
    for uid, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        n = 1
        for ts in tss[1:]:
            if ts - prev > gap:
                out.append((uid, start, prev + gap, n))
                start, n = ts, 0
            n += 1
            prev = ts
        out.append((uid, start, prev + gap, n))
    return sorted(out)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            # ts in multiples of gap/4 -> exact-gap pairs occur constantly,
            # hammering the inclusive/exclusive boundary
            st.integers(0, 40).map(lambda k: k * 25),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_session_window_boundary_matches_reference(spark, rows):
    from datafusion_distributed_experiment_spark.operators.analytics import (
        session_windows_frame,
    )

    gap = 100  # ms
    df = spark.createDataFrame(rows, "user_id LONG, ts_ms LONG")
    got = sorted(
        (r.user_id, r.start_ms, r.end_gap_ms, r.n_events)
        for r in session_windows_frame(df, gap_ms=gap).collect()
    )
    assert got == _sessions_reference(rows, gap)


# ------------------------------------------------------------------ #
# MinHash signature vs a pure-Python replica
# ------------------------------------------------------------------ #

def _py_minhash(text: str) -> tuple[list[int], list[int]]:
    """Replica of dedup._with_signature for one document: (sorted distinct
    tokens, 8 permuted minima). Exists so REFORMULATIONS of the Spark
    expression (the r9 array_min rewrite replaced the array-accumulator
    fold) are pinned at the algorithm level, independent of the DuckDB
    twin — the replica program of tests/test_replica_audit.py."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        A,
        B,
        MOD,
        P,
        SHINGLE_MULT,
    )

    toks = [t for t in text.split(" ") if t]
    th = []
    for t in toks:
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % MOD
        th.append(acc)
    if len(th) >= 3:
        sh = [
            ((th[i] * SHINGLE_MULT + th[i + 1]) % MOD * SHINGLE_MULT + th[i + 2]) % MOD
            for i in range(len(th) - 2)
        ]
    else:
        acc = 0
        for h in th:
            acc = (acc * SHINGLE_MULT + h) % MOD
        sh = [acc]
    sig = [min((a * h + b) % P for h in sh) for a, b in zip(A, B)]
    # dedupe preserving first occurrence = Spark's array_distinct
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t)
    return list(seen), sig


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.text(alphabet="abc xyz", min_size=0, max_size=60), min_size=1, max_size=5)
)
def test_minhash_signature_matches_python_replica(spark, texts):
    from datafusion_distributed_experiment_spark.operators.dedup import _with_signature

    frame = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["toks"]), list(r["sig"]))
        for r in _with_signature(frame).select("doc_id", "toks", "sig").collect()
    }
    want = {d: _py_minhash(t) for d, t in enumerate(texts)}
    assert got == want
