"""BPE merge-round semantics: the greedy left-to-right rule on constructed
words, plus a pure-Python replica differential. The cross-engine oracle check
(test_corpus_oracle) proves Spark == DuckDB; these prove both equal the BPE
algorithm itself — in particular the overlapping-run rule ("aaaa" under
(a,a) -> "aa","aa", never "a","aa","a").
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from datafusion_distributed_experiment_spark.operators.bpe import (
    MERGE_ITERS,
    _docs,
    _merge_round,
    _vocab_words,
)

from .conftest import SF_DIR


def _chars_frame(spark, words: list[tuple[str, int]]):
    rows = [(w, f, list(w)) for w, f in words]
    return spark.createDataFrame(rows, "word string, freq long, toks array<string>")


def _collect_tokens(df) -> dict[str, list[str]]:
    return {r["word"]: list(r["toks"]) for r in df.collect()}


def _py_top_pair(words: list[tuple[list[str], int]]) -> tuple[str, str] | None:
    counts: dict[tuple[str, str], int] = {}
    for toks, f in words:
        for a, b in zip(toks, toks[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + f
    if not counts:
        return None
    return min(counts, key=lambda p: (-counts[p], p))


def _py_merge(toks: list[str], x: str, y: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == x and toks[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def test_overlapping_run_merges_greedily(spark):
    # freq forces (a,a) to win: "aaaa" contributes 3 overlapping (a,a) pairs
    df = _merge_round(_chars_frame(spark, [("aaaa", 10), ("bc", 1)]))
    toks = _collect_tokens(df)
    assert toks["aaaa"] == ["aa", "aa"]
    assert toks["bc"] == ["b", "c"]


def test_odd_run_leaves_tail(spark):
    df = _merge_round(_chars_frame(spark, [("aaa", 10), ("bc", 1)]))
    assert _collect_tokens(df)["aaa"] == ["aa", "a"]


def test_tie_breaks_lexicographically(spark):
    # (a,b) and (b,a) both appear twice in "abab"+"ba bа"? keep it simple:
    # "ab" and "ba" with equal freq -> counts tie -> (a,b) wins the (cnt
    # DESC, x, y) order
    df = _merge_round(_chars_frame(spark, [("ab", 5), ("ba", 5)]))
    toks = _collect_tokens(df)
    assert toks["ab"] == ["ab"]
    assert toks["ba"] == ["b", "a"]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.text(alphabet="ab", min_size=1, max_size=10), st.integers(1, 9)),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_merge_round_matches_python_replica(spark, words):
    # a vocabulary with no adjacent pair (all single characters) is in the
    # domain: the round must then leave every word as it is
    got = _collect_tokens(_merge_round(_chars_frame(spark, words)))
    py_words = [([c for c in w], f) for w, f in words]
    top = _py_top_pair(py_words)
    expect = {
        w: list(w) if top is None else _py_merge(list(w), *top) for w, f in words
    }
    assert got == expect


def test_two_rounds_over_vocab_chars(spark):
    """End-to-end over a real corpus slice: run MERGE_ITERS rounds and check
    every word's tokens still concatenate back to the word (merges never
    lose or reorder characters)."""
    words = _vocab_words(_docs(spark, SF_DIR))
    for _ in range(MERGE_ITERS):
        words = _merge_round(words).localCheckpoint()
    toks = _collect_tokens(words)
    assert len(toks) >= 10
    merged_words = [w for w, ts in toks.items() if len(ts) < len(w)]
    assert merged_words, "two merge rounds merged nothing"
    for w, ts in toks.items():
        assert "".join(ts) == w


def test_char_split_is_version_independent(spark):
    """Pin the codepoint char-split (ADVICE r6; round-12: the regex form
    regexp_extract_all('(?s).') replaced split("(?!$)"), which broke
    surrogate pairs): a word's initial tokens are its characters, one per
    code point, with NO trailing empty element, and they concatenate back
    to the word the greedy-merge fold starts from."""
    words = _vocab_words(_docs(spark, SF_DIR))
    row = (
        words.filter(words.word.isNotNull())
        .select(
            "word",
            F.size("toks").alias("n"),
            F.array_max(F.transform("toks", F.length)).alias("maxlen"),
            F.array_min(F.transform("toks", F.length)).alias("minlen"),
            F.array_join("toks", "").alias("joined"),
            F.length("word").alias("wordlen"),
        )
        .filter((F.col("n") != F.col("wordlen")) | (F.col("minlen") != 1)
                | (F.col("maxlen") != 1) | (F.col("joined") != F.col("word")))
    )
    assert row.count() == 0, "char split emitted empties or skewed tokens"


def test_bpe_apply_reconstructs_and_agrees_with_merge_stats(spark):
    """Encoding invariants: (a) concatenating a document's tokens in pos
    order reproduces the concatenation of its whitespace words (the merge
    never loses or duplicates a character); (b) per-doc token counts agree
    with bpe_merges_t2's n_bpe_tokens (the two views of one trained model);
    (c) token ids are a dense 1..V bijection."""
    from datafusion_distributed_experiment_spark.operators.bpe import (
        bpe_apply,
        bpe_merges_t2,
    )

    sf = SF_DIR
    enc = bpe_apply(spark, sf)
    enc_pd = enc.toPandas()
    # (a) reconstruction
    joined = (
        enc_pd.sort_values(["doc_id", "pos"])
        .groupby("doc_id")["token"]
        .apply("".join)
    )
    docs = {
        r["doc_id"]: "".join(r["text"].split())
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for doc_id, s in joined.items():
        assert s == docs[doc_id], doc_id
    # (b) agreement with the training-statistics view
    counts = enc_pd.groupby("doc_id").size()
    stats = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_merges_t2(spark, sf).collect()}
    for doc_id, n in counts.items():
        assert stats[doc_id] == n, doc_id
    # (c) dense id space
    ids = enc_pd[["token_id", "token"]].drop_duplicates()
    assert ids["token_id"].nunique() == ids["token"].nunique()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=5), min_size=1, max_size=4
        ),
        min_size=1,
        max_size=5,
    )
)
def test_bpe_apply_matches_python_replica(spark, tmp_path_factory, docs):
    """Full-encode differential: train MERGE_ITERS rounds and encode every
    document, comparing bpe_apply's (doc_id, pos, token_id, token) stream
    against a direct Python replay of the BPE algorithm (greedy
    left-to-right merge, frequency-then-token id assignment)."""
    from collections import Counter

    from datafusion_distributed_experiment_spark.operators.bpe import (
        MERGE_ITERS,
        bpe_apply,
    )

    sf = tmp_path_factory.mktemp("bpe_corpus")
    spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(docs)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    # ---- pure-Python replay ----
    freq = Counter(w for doc in docs for w in doc)
    seqs = {w: list(w) for w in freq}
    for _ in range(MERGE_ITERS):
        pairs = Counter()
        for w, f in freq.items():
            for a, b in zip(seqs[w], seqs[w][1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        x, y = min(pairs, key=lambda p: (-pairs[p], p))
        seqs = {w: _py_merge(toks, x, y) for w, toks in seqs.items()}
    tot = Counter()
    for w, f in freq.items():
        for t in seqs[w]:
            tot[t] += f
    ids = {
        t: i + 1
        for i, t in enumerate(sorted(tot, key=lambda t: (-tot[t], t)))
    }
    want = []
    for i, doc in enumerate(docs):
        pos = 0
        for w in doc:
            for t in seqs[w]:
                want.append((i, pos, ids[t], t))
                pos += 1

    got = [
        (r["doc_id"], r["pos"], r["token_id"], r["token"])
        for r in bpe_apply(spark, str(sf)).collect()
    ]
    assert sorted(got) == sorted(want)


def test_pairless_merge_round_is_a_noop(spark, tmp_path):
    """Regression (hypothesis-caught, round 8): a corpus whose vocabulary
    fully merges before MERGE_ITERS runs out (here [['aa']] — one pair,
    gone after round 1) must EARLY-STOP like standard BPE. The old cross
    join against the empty 1-row argmax emptied the vocabulary, making
    bpe_apply/bpe_merges_t2 return zero rows; both engines agreed (same
    degenerate dataflow), so only an algorithm-level replica could see it."""
    import duckdb

    from datafusion_distributed_experiment_spark.operators.bpe import (
        bpe_apply,
        bpe_merges_t2,
        oracles,
    )

    sf = str(tmp_path)
    spark.createDataFrame([(0, "aa")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{sf}/documents.parquet")

    enc = [tuple(r) for r in bpe_apply(spark, sf).collect()]
    assert enc == [(0, 0, 1, "aa")], enc
    stats = [tuple(r) for r in bpe_merges_t2(spark, sf).collect()]
    # one doc, one word, ONE surviving bpe token (the merged 'aa')
    assert len(stats) == 1 and stats[0][:3] == (0, 1, 1), stats

    # the DuckDB oracle chain no-ops identically
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    rows = con.execute(oracles()["bpe_apply"]).fetchall()
    assert [tuple(r) for r in rows] == [(0, 0, 1, "aa")], rows


@pytest.mark.parametrize("name", ["bpe_apply", "bpe_merges_t2"])
def test_bpe_queries_launch_pinned_job_count(spark, name):
    """Job ledger for the two BPE queries on this session shape: one
    documents read, the eager vocabulary checkpoint, one pair-count
    broadcast per merge round and the encode side — 15 jobs per call each.
    Counted by job group on the second call after clearCache, so nothing
    cached by the first call can hide a job; a change that adds a job must
    move this number in the same diff."""
    from datafusion_distributed_experiment_spark.operators import bpe

    fn = bpe.queries()[name]
    sc = spark.sparkContext
    jobs, rows = [], []
    try:
        for i in range(2):
            group = f"bpe-jobs-{name}-{i}"
            sc.setJobGroup(group, f"{name} call")
            rows.append(sorted(fn(spark, SF_DIR).collect()))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            spark.catalog.clearCache()
    finally:
        sc.setJobGroup(None, None)
    assert jobs[1] == 15, jobs
    assert rows[0] == rows[1] and rows[0]
