"""IVF-PQ operator tests (oracle parity runs in
tests/test_corpus_oracle.py; these pin the algorithm and the guard).

The cross-engine oracle is independent SQL, but both sides share the
pipeline DESIGN, so per the replica doctrine (SURVEY §5 / the round-8
pairless-BPE lesson) the whole operator is re-derived here in pure
Python — numpy-free loops, same IEEE fold order for the double cosine,
plain ints for every PQ step — and must match the Spark output row for
row."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_distributed_experiment_spark.operators.similarity import (
    IVF_PROBE,
    PQ_CODES,
    PQ_M,
    PQ_QUERIES,
    PQ_RERANK,
    PQ_SUB,
    PQ_TOP_K,
    check_adc_headroom,
    ivf_pq_topk,
)

from .conftest import SF_DIR


def test_adc_headroom_guard_trips_and_passes():
    """Overflow-guard family contract: pure function, pass at any sane
    embedding scale, trip before an int64 product can overflow."""
    from datafusion_distributed_experiment_spark.errors import PlanningError

    check_adc_headroom(0)
    check_adc_headroom(1_000_000)  # |x| <= 1.0 in ppm space
    check_adc_headroom(100_000_000)  # |x| <= 100
    # same worst_units formula as the guard (max of the LUT-build and the
    # squared-distance unit counts) so a PQ_M < 4 retune can't desync them
    bound = math.isqrt((2**63 - 1) // max(4 * PQ_SUB, PQ_M * PQ_SUB))
    check_adc_headroom(bound)
    with pytest.raises(PlanningError, match="headroom"):
        check_adc_headroom(bound + 1)


def _python_ivf_pq(path: str):
    """The full IVF-PQ pipeline in pure Python (third implementation,
    independent of both the Spark fold and the DuckDB cross-join SQL)."""
    t = pq.read_table(path).to_pydict()
    vecs = {
        int(i): [float(x) for x in v]
        for i, v in zip(t["vec_id"], t["embedding"])
    }
    n = len(vecs)
    k = max(16, math.ceil(math.sqrt(n)))

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):  # same sequential fold order as both engines
            s += x * y
        return s

    nrm = {i: math.sqrt(dot(v, v)) for i, v in vecs.items()}
    xp = {i: [int(math.floor(1e6 * x)) for x in v] for i, v in vecs.items()}
    cents = [(c, vecs[c]) for c in sorted(vecs) if c < k]
    seeds = [c for c in sorted(vecs) if c < PQ_CODES]  # may be < PQ_CODES
    cb = [
        [xp[c][m * PQ_SUB : (m + 1) * PQ_SUB] for c in seeds]
        for m in range(PQ_M)
    ]

    def coarse_rank(vid):
        """Centroid ids by cosine desc, ties toward the smaller id."""
        scores = [
            (dot(vecs[vid], cv) / (nrm[vid] * nrm[c]), -c) for c, cv in cents
        ]
        return [-negc for _, negc in sorted(scores, reverse=True)]

    assign = {vid: coarse_rank(vid)[0] for vid in vecs}
    codes = {}
    for vid in vecs:
        row = []
        for m in range(PQ_M):
            sub = xp[vid][m * PQ_SUB : (m + 1) * PQ_SUB]
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(sub, ent)), c)
                for c, ent in enumerate(cb[m])
            )
            row.append(best[1])
        codes[vid] = row
    out = []
    for q in sorted(v for v in vecs if v < PQ_QUERIES):
        lists = set(coarse_rank(q)[:IVF_PROBE])
        cand = []
        for vid in vecs:
            if vid == q or assign[vid] not in lists:
                continue
            adc = sum(
                sum(
                    xp[q][m * PQ_SUB + j] * cb[m][codes[vid][m]][j]
                    for j in range(PQ_SUB)
                )
                for m in range(PQ_M)
            )
            cand.append((-adc, vid))
        short = sorted(cand)[:PQ_RERANK]
        rer = []
        for neg_adc, vid in short:
            cos_ppm = math.floor(
                1e6 * dot(vecs[q], vecs[vid]) / (nrm[q] * nrm[vid])
            )
            rer.append((-cos_ppm, vid, -neg_adc))
        for rank, (neg_cos, vid, adc) in enumerate(sorted(rer)[:PQ_TOP_K], start=1):
            out.append((q, vid, adc, -neg_cos, rank))
    return out


def test_ivf_pq_matches_python_replica(spark):
    got = [
        (r.query_id, r.neighbor_id, r.adc_score, r.cos_ppm, r.rank)
        for r in ivf_pq_topk(spark, SF_DIR).collect()
    ]
    want = _python_ivf_pq(f"{SF_DIR}/embeddings.parquet")
    assert got == want


def test_pq_code_expr_breaks_distance_ties_toward_smaller_code(spark):
    """The determinism claim hinges on tie handling: when several codebook
    entries are equidistant from a subvector, BOTH engines and the replica
    must pick the smallest code. Constructed codebooks force exact ties
    (duplicate entries; symmetric +/- offsets around the probe point) and
    the Spark expression must agree with a plain Python argmin."""
    from datafusion_distributed_experiment_spark.operators.similarity import (
        _pq_code_expr,
    )

    # codebook for subspace 0: entries 2 and 3 are identical; entries 4/5
    # sit symmetrically around the probe so their distances tie too
    cbm = [
        [100] * PQ_SUB,          # code 1
        [7, 7, 7, 7, 0, 0, 0, 0],  # code 2
        [7, 7, 7, 7, 0, 0, 0, 0],  # code 3 (exact duplicate of 2)
        [10] * PQ_SUB,           # code 4: probe 8 -> dist 8*4
        [6] * PQ_SUB,            # code 5: probe 8 -> dist 8*4 (tie with 4)
    ] + [[10**6] * PQ_SUB for _ in range(PQ_CODES - 5)]
    rows = [
        (1, [7, 7, 7, 7, 0, 0, 0, 0] + [0] * (64 - PQ_SUB)),  # ties 2 vs 3
        (2, [8] * PQ_SUB + [0] * (64 - PQ_SUB)),              # ties 4 vs 5
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, xp array<bigint>")
    got = {
        r.vec_id: r.code
        for r in df.selectExpr("vec_id", f"{_pq_code_expr(0, cbm)} AS code").collect()
    }

    def py_code(xp):
        return min(
            (sum((a - b) * (a - b) for a, b in zip(xp[:PQ_SUB], ent)), c + 1)
            for c, ent in enumerate(cbm)
        )[1]

    assert got[1] == py_code(rows[0][1]) == 2  # duplicate -> smaller code
    assert got[2] == py_code(rows[1][1]) == 4  # symmetric tie -> smaller code


def test_ivf_pq_survives_corpus_smaller_than_codebook(spark, tmp_path):
    """A corpus with fewer vectors than PQ_CODES yields a SHORT codebook;
    the code expression must sequence over the actual codebook length (an
    out-of-bounds element_at is an ANSI runtime error), the LUTs must
    shrink with it, and the result must still match the Python replica —
    the DuckDB oracle's cb CTE shrinks identically by construction."""
    import random

    rng = random.Random(11)
    path = str(tmp_path / "embeddings.parquet")
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(9)]
    spark.createDataFrame(rows, schema="vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(path)
    got = [
        (r.query_id, r.neighbor_id, r.adc_score, r.cos_ppm, r.rank)
        for r in ivf_pq_topk(spark, str(tmp_path)).collect()
    ]
    assert got == _python_ivf_pq(path)
    assert got, "9 mutually-probing vectors must produce neighbors"


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(1, PQ_CODES).flatmap(
        lambda ncodes: st.tuples(
            st.lists(  # codebook: ncodes entries of PQ_SUB ppm ints
                st.lists(
                    st.integers(-1_000_000, 1_000_000),
                    min_size=PQ_SUB,
                    max_size=PQ_SUB,
                ),
                min_size=ncodes,
                max_size=ncodes,
            ),
            st.lists(  # batch of subvectors to encode
                st.lists(
                    st.integers(-1_000_000, 1_000_000),
                    min_size=PQ_SUB,
                    max_size=PQ_SUB,
                ),
                min_size=1,
                max_size=6,
            ),
        )
    )
)
def test_pq_code_expr_matches_python_argmin(spark, cb_and_vecs):
    """Property pin for the generated SQL at the heart of PQ encode: over
    ARBITRARY ppm-scale codebooks (including short, sub-PQ_CODES ones —
    the small-corpus branch) and arbitrary subvectors, the Spark
    expression's argmin must equal a plain Python argmin with the
    smaller-code tie rule. The constructed-tie test pins the known tricky
    cases; this pins everything else."""
    from datafusion_distributed_experiment_spark.operators.similarity import (
        _pq_code_expr,
    )

    cbm, subs = cb_and_vecs
    rows = [(i, sub + [0] * (64 - PQ_SUB)) for i, sub in enumerate(subs)]
    df = spark.createDataFrame(rows, schema="vec_id long, xp array<bigint>")
    got = {
        r.vec_id: r.code
        for r in df.selectExpr("vec_id", f"{_pq_code_expr(0, cbm)} AS code").collect()
    }
    for i, sub in enumerate(subs):
        want = min(
            (sum((a - b) * (a - b) for a, b in zip(sub, ent)), c + 1)
            for c, ent in enumerate(cbm)
        )[1]
        assert got[i] == want, (i, sub)


def test_ivf_pq_recall_floor_vs_exact():
    """Pin the staged operator's accuracy envelope on real data before its
    promotion (the events_quantile_sketch doctrine): recall@PQ_TOP_K of the
    IVF-PQ+refine pipeline against brute-force exact cosine over ALL
    PQ_QUERIES queries. Runs on the REPLICA (pure Python, no Spark) —
    test_ivf_pq_matches_python_replica pins Spark == replica row-for-row,
    so this floor transitively binds the Spark operator. Measured 0.867 at
    sf0.001 / 0.822 at sf0.01 (SCALING.md); ADC-only (refine disabled)
    collapses to ~0.19 on this structureless random corpus, and a broken
    index (wrong list assignment, bad probe selection) collapses toward
    zero — 0.6 separates working from broken with margin for testdata
    drift."""
    path = f"{SF_DIR}/embeddings.parquet"
    t = pq.read_table(path).to_pydict()
    vecs = {
        int(i): [float(x) for x in v]
        for i, v in zip(t["vec_id"], t["embedding"])
    }

    def cos(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    truth = {}
    for q in range(PQ_QUERIES):
        best = sorted(
            ((cos(vecs[q], v), -i) for i, v in vecs.items() if i != q),
            reverse=True,
        )[:PQ_TOP_K]
        truth[q] = {-negi for _, negi in best}
    approx: dict[int, set[int]] = {}
    for q, vid, _adc, _cos, _rank in _python_ivf_pq(path):
        approx.setdefault(q, set()).add(vid)
    assert set(approx) == set(truth)
    hits = sum(len(truth[q] & approx[q]) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    recall = hits / total
    assert recall >= 0.6, f"IVF-PQ recall collapsed: {recall:.2f} ({hits}/{total})"


def test_ivf_pq_output_contract(spark):
    rows = ivf_pq_topk(spark, SF_DIR).collect()
    assert rows, "empty corpus proves nothing"
    per_query: dict[int, list[int]] = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rank)
        assert r.neighbor_id != r.query_id
    assert len(per_query) == PQ_QUERIES
    for q, ranks in per_query.items():
        assert ranks == list(range(1, PQ_TOP_K + 1)), q


def test_pq_fit_rejects_mis_sized_vectors(spark, tmp_path):
    """Round-12 review fix: the oracle's DUCK_DOT indexes exactly 1..DIM,
    so a longer vector silently truncates (DuckDB only) and a shorter one
    NULL-poisons the DuckDB fold while Spark's zip_with returns a finite
    sum — the PQ fit now guards the corpus dimensionality loudly."""
    from datafusion_distributed_experiment_spark.errors import PlanningError

    rows = [(i, [float(i % 7) / 10.0] * (63 if i == 3 else 64)) for i in range(20)]
    d = tmp_path / "misdim"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    with pytest.raises(PlanningError, match="DIM=64 dimensions"):
        ivf_pq_topk(spark, str(d)).collect()
