"""Round-13 adversarial hardening of the embedding consumers (the
similarity + selection tiers) — the r12 NULL/ANSI sweep never probed the
vector inputs. On a corpus carrying a NULL embedding and an all-zero
vector, the pre-fix behavior was:

- ``ann_ivf`` / ``semantic_dedup`` / ``kmeans_lloyd_t3``: raw driver-side
  ``TypeError`` (the NULL row reached the seed/centroid model collects)
  while DuckDB ANSWERED — the crash-vs-answer divergence class;
- ``embedding_quantize`` / ``kmeans_assign``: silent HASH MISMATCH
  (Spark's ``greatest`` skips NULL arguments where DuckDB's returns
  NULL; NULL propagation through the distance argmin differs);
- zero-norm vectors put cosine on the 0/0 path, where Spark
  ``CAST(NaN AS BIGINT)`` answers 0 with ANSI off and DuckDB raises.

The exclusion contract (the dedup NULL-text analog, mirrored in every
oracle): NULL embeddings are excluded by ALL embedding consumers
(nothing to compute on); zero-norm vectors are additionally excluded by
the COSINE-geometry operators (cosine undefined) but KEPT where the math
is well-defined (int8 quantization — the scale clamp covers it — and
k-means squared-L2). The persisted-index location keys (corpus row
count) track the FILTERED corpus on both engines.
"""

from __future__ import annotations

import duckdb
import pytest

from datafusion_distributed_experiment_spark.operators import selection as SEL
from datafusion_distributed_experiment_spark.operators import similarity as S

from ._compare import assert_frames_match

COSINE_OPS = (
    "embedding_topk",
    "ann_lsh",
    "ann_ivf",
    "embedding_dedup",
    "semantic_dedup",
    "ivf_pq_topk",
    "ivf_pq_index_build",
    "ivf_pq_index_upsert",
)
L2_OPS = ("embedding_quantize", "kmeans_assign", "kmeans_lloyd_t3")


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    """40 deterministic vectors with vec_id 5 all-zero and vec_id 7 NULL —
    both inside the query/seed prefix, so every model collect and every
    query loop would meet them without the exclusion contract."""
    d = tmp_path_factory.mktemp("adversarial_vectors")
    rows = []
    for i in range(40):
        rows.append(
            (i, [((i * 31 + j * 7) % 100 - 50) / 50.0 for j in range(S.DIM)])
        )
    rows[5] = (5, [0.0] * S.DIM)
    rows[7] = (7, None)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    return str(d)


def _oracle_conn(adversarial_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{adversarial_dir}/embeddings.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", COSINE_OPS + L2_OPS)
def test_embedding_consumers_agree_on_null_and_zero_vectors(
    name, spark, adversarial_dir
):
    """Every embedding consumer must ANSWER (no raw TypeError, no engine
    crash) and hash-match its oracle on the NULL/zero corpus."""
    qs = {**S.queries(), **SEL.queries()}
    os_ = {**S.oracles(), **SEL.oracles()}
    sdf = qs[name](spark, adversarial_dir).toPandas()
    assert len(sdf) > 0, f"{name}: empty result proves nothing"
    odf = _oracle_conn(adversarial_dir).execute(os_[name]).df()
    assert_frames_match(sdf, odf, name)


def test_exclusion_scope_is_operator_class_specific(spark, adversarial_dir):
    """The zero vector is excluded from cosine geometry but KEPT by the
    well-defined-math consumers; the NULL row is excluded everywhere."""
    topk = S.queries()["embedding_topk"](spark, adversarial_dir).toPandas()
    participants = set(topk["query_id"]) | set(topk["neighbor_id"])
    assert 5 not in participants and 7 not in participants

    quant = S.queries()["embedding_quantize"](spark, adversarial_dir).toPandas()
    assert 5 in set(quant["vec_id"]), "zero vector quantizes fine"
    assert 7 not in set(quant["vec_id"])
    zero_row = quant[quant["vec_id"] == 5].iloc[0]
    assert int(zero_row["scale_ppm"]) == 1 and int(zero_row["q_l2"]) == 0

    km = SEL.queries()["kmeans_assign"](spark, adversarial_dir).toPandas()
    assert 5 in set(km["vec_id"]), "zero vector has a well-defined L2 argmin"
    assert 7 not in set(km["vec_id"])


def test_empty_corpus_answers_like_the_oracle(spark, tmp_path):
    """Round-13 empty-input review: on ZERO-row tables the model-fit
    operators (ann_ivf, semantic_dedup, ivf_pq_topk/index_build/upsert,
    kmeans_lloyd) crashed at PLAN time — an empty centroid/codebook list
    produced a bare array() literal (array<void>, fails zip_with
    analysis) and sequence(1, 0) DESCENDS — while DuckDB answered zero
    rows; the upsert additionally failed schema inference reading back a
    zero-row partitioned write. Typed empty literals and the empty-serve
    early-out fix all of it: every operator now answers with the same
    row count as its oracle (0, or the 1-row global aggregates)."""
    import os

    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    sys_src = "/root/testdata/sf0.001"
    d = tmp_path / "empty"
    d.mkdir()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        src = f"{sys_src}/{t}.parquet"
        if os.path.exists(src):
            pq.write_table(pq.read_table(src).slice(0, 0), f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in tables:
        if os.path.exists(f"{d}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    names = [
        # the six previously-crashing model-fit operators
        "ann_ivf", "semantic_dedup", "ivf_pq_topk", "ivf_pq_index_build",
        "ivf_pq_index_upsert", "kmeans_lloyd_t3",
        # one representative per remaining family
        "dedup_exact", "embedding_topk", "kmeans_assign", "domain_mix",
        "text_stats", "hll_distinct", "bm25_topk", "bpe_apply",
        "table_profile", "events_asof", "funnel", "pagerank_nations",
        "cdc_apply_changes", "corpus_pipeline", "q1", "q6",
    ]
    for name in names:
        sdf = qs[name](spark, str(d)).toPandas()
        odf = con.execute(os_[name]).df()
        assert len(sdf) == len(odf), (
            f"{name}: empty-corpus row counts diverge "
            f"(spark={len(sdf)}, oracle={len(odf)})"
        )
