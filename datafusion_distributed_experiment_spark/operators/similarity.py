"""Similarity search over the ``embeddings`` table (array<float> column).

Three tiers, all JVM-side expressions (``zip_with``/``aggregate`` folds — no
Python UDF round trips):

- ``embedding_topk``   brute-force cosine top-k for a small query set. The
                       scale plan is broadcast(queries) x scan(corpus): one
                       pass over the big side, no shuffle of the corpus.
- ``ann_lsh``          sign-bucket LSH (axis-aligned hyperplanes on the first
                       8 dims): corpus shuffles once on the bucket key; each
                       query only scans its own bucket. Recall < 1 by design;
                       the oracle applies identical bucketing so results stay
                       exactly comparable.
- ``embedding_dedup``  near-duplicate vector pairs (cosine >= 0.999) within
                       LSH buckets, over a corpus augmented with exact copies
                       of every 10th vector (the driver's synthetic vectors
                       are all distinct, so the augmentation makes the
                       operator's positive path observable).

Cosines are emitted as floor(1e6 * cos) integers; both engines fold the dot
product sequentially over the same doubles, so the integers match exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import DUCK_DOT, cosine_ppm, norm
from .dedup import _cap_buckets

DIM = 64
N_QUERIES = 5
TOP_K = 10
LSH_QUERIES = 50
LSH_TOP_K = 3
DEDUP_MIN_PPM = 999_000
AUG_OFFSET = 1_000_000
# Frequent-bucket suppression for the vector LSH paths: a sign bucket larger
# than this is a degenerate hub (correlated embeddings all share a sign
# pattern) and comparing inside it is quadratic — the same skew guard the
# text LSH tier uses (dedup._cap_buckets). The oracle applies the identical
# cap. At the test scale (500-2000 vectors / 256 buckets) nothing is capped;
# at cluster scale this is what keeps the bucket join from degenerating.
VEC_BUCKET_CAP = 128
# The guard itself costs a second corpus pass (bucket groupBy-count) plus a
# broadcast job — pure overhead on a corpus small enough that even a
# degenerate hub bucket is cheap to join. At or below this base-table row
# count the guard is SKIPPED — and the oracle SQL encodes the identical size
# gate (`bucket_n <= cap OR total <= threshold`), so Spark and DuckDB stay
# exactly comparable at EVERY corpus size, not just the tested ones. The
# bound is chosen so the no-guard worst case (ALL rows sharing one sign
# bucket) is ~5e7 candidate pairs — trivially cheap even single-node — while
# every test/bench scale (500-2000 vectors) takes the single-pass plan.
# Guard skipping is perf-neutral-or-better and never changes results: the
# cap only ever REMOVES candidates, and below the gate the oracle removes
# none either.
VEC_CAP_MIN_ROWS = 10_000
# IVF parameters: K deterministic seed centroids (the vectors with the K
# smallest vec_ids — one assignment pass, no iterative training, so the
# index is exactly reproducible in the DuckDB oracle), N_PROBE probed lists.
# K scales with the corpus: K = max(IVF_K_MIN, ceil(sqrt(N))) — the standard
# IVF sizing (expected list size ~sqrt(N)), so the probe join's candidate
# volume grows as sqrt(N) instead of N/16.
IVF_K_MIN = 16
IVF_PROBE = 4
IVF_QUERIES = 30
IVF_TOP_K = 3
# Product-quantization parameters (ivf_pq_topk, staged round 11): the
# DIM=64 vector splits into PQ_M subspaces of PQ_SUB dims; each subspace
# gets a PQ_CODES-entry codebook taken from the first PQ_CODES corpus
# vectors' subvectors (deterministic "training" — the same
# seed-not-iterated doctrine as the IVF coarse centroids, so the DuckDB
# oracle replays the index bit-for-bit). Codes are argmin of INTEGER
# squared L2 distance in ppm space; query scoring is asymmetric-distance
# computation (ADC, Jegou et al. 2011): per-query lookup tables of
# integer dot products, summed over subspaces — all BIGINT, so both
# engines agree exactly.
PQ_M = 8
PQ_SUB = DIM // PQ_M
PQ_CODES = 16
PQ_QUERIES = 30
PQ_TOP_K = 3
# Exact-rerank ("refine") shortlist size: ADC keeps the PQ_RERANK best
# candidates per query, then EXACT integer cosine re-scores just those
# rows fetched from the original vectors — the standard IVF-PQ+refine
# serving shape (FAISS IndexRefineFlat). Measured on the synthetic
# random corpus at sf0.1: ADC-only recall@3 vs exact cosine is 0.19
# (random uniform vectors are the PQ worst case — no manifold to
# quantize), rerank at R=64 recovers 0.90 against the 0.97 ceiling set
# by IVF probe pruning (ann_ivf with exact in-list scoring).
PQ_RERANK = 64


def check_adc_headroom(max_abs_ppm: int) -> None:
    """Raise PlanningError when the PQ integer arithmetic could exceed
    int64 (overflow-guard family; see retrieval.check_score_headroom).
    The largest intermediates are a per-subspace squared-distance sum
    (PQ_SUB * (2*max)^2 = 4*PQ_SUB*max^2) and the full ADC fold
    (PQ_M * PQ_SUB * max^2 = DIM * max^2); the bound uses whichever unit
    count is larger. Pure so the trip condition is unit-testable without
    a pathological corpus."""
    import math

    i64 = 2**63 - 1
    worst_units = max(4 * PQ_SUB, PQ_M * PQ_SUB)
    if max_abs_ppm > math.isqrt(i64 // worst_units):
        from ..errors import PlanningError

        raise PlanningError(
            f"PQ integer arithmetic would exceed int64 headroom at "
            f"max |x_ppm| = {max_abs_ppm} (bound "
            f"{math.isqrt(i64 // worst_units)}); rescale the embedding "
            "space or switch the distance arithmetic to decimal(38,0)"
        )


def _ivf_k(n: int) -> int:
    import math

    return max(IVF_K_MIN, math.ceil(math.sqrt(n)))


def _ivf_fit(
    corpus: DataFrame,
    n: int | None = None,
    extra_lim: int = 0,
    extra_cols: tuple[str, ...] = (),
) -> tuple[int, list, list[tuple[int, list[float]]]]:
    """The shared IVF model-fit step — ONE statement of the seed-centroid
    contract all three IVF operators (``ann_ivf``, ``semantic_dedup``,
    ``ivf_pq_topk``) and their DuckDB oracles must agree on, so a future
    change to the seeding doctrine cannot silently diverge per operator.

    Sizes K = max(IVF_K_MIN, ceil(sqrt(N))) from the corpus count (pass a
    precomputed ``n`` to fold the count into a caller's existing fit
    aggregate), collects the seed rows (``vec_id < max(K, extra_lim)``,
    ordered by vec_id — a few KB of model state, exactly the
    ``KMeansModel.fit`` contract, never a data collect), and returns
    ``(k, seed_rows, centroids)`` with centroids = the first K
    ``(vec_id, v)`` pairs. ``extra_cols`` rides extra model columns (e.g.
    the ppm-integer ``xp`` the PQ codebook seeds need) on the same
    collect."""
    k = _ivf_k(corpus.count() if n is None else n)
    seed_rows = (
        corpus.filter(F.col("vec_id") < max(k, extra_lim))
        .select("vec_id", "v", *extra_cols)
        .orderBy("vec_id")
        .collect()
    )
    centroids = [
        (int(r["vec_id"]), list(r["v"])) for r in seed_rows if r["vec_id"] < k
    ]
    return k, seed_rows, centroids


def _base_rows(path: str) -> int | None:
    """Parquet-footer row count — one driver-side metadata read, no Spark
    job (the same footer-probe pattern as ``sources.events.probe_ts_type``).
    Handles single files and directory datasets (``count_rows`` on a parquet
    dataset is served from footers). Returns None when nothing is probeable;
    callers treat unknown as LARGE and keep the skew guard on — the safe
    default."""
    try:
        import os

        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return int(pq.ParquetFile(path).metadata.num_rows)
        return int(ds.dataset(path, format="parquet").count_rows())
    except Exception:  # noqa: BLE001 - unknown size -> guard stays on
        return None


def _needs_bucket_cap(sf_dir: str) -> bool:
    n = _base_rows(f"{sf_dir}/embeddings.parquet")
    return n is None or n > VEC_CAP_MIN_ROWS


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import rebalance_narrow_scan

    # One parquet row group = one scan task; the per-row dot-product folds
    # downstream are the expensive part and must fan out to all cores.
    path = f"{sf_dir}/embeddings.parquet"
    df = rebalance_narrow_scan(spark.read.parquet(path), path)
    # EXCLUSION CONTRACT (round-13 review, the dedup NULL-text analog,
    # mirrored in _DUCK_VECS so both engines agree): rows whose embedding
    # is NULL are excluded — cosine geometry has nothing to compute on,
    # and an unguarded NULL reached the driver-side model collects as a
    # raw TypeError (ann_ivf/semantic_dedup crashed where DuckDB
    # answered). Zero-norm vectors are excluded too: cosine is UNDEFINED
    # there, and the 0/0 path is a cross-engine minefield (Spark
    # CAST(NaN AS BIGINT) answers 0 with ANSI off where DuckDB raises).
    # Well-defined-math consumers (quantize, k-means L2) keep zero
    # vectors and exclude only NULLs.
    return (
        df.filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .filter(F.col("nrm") > 0)
    )


def _bucket(v) -> F.Column:
    """Sign bits of the first 8 dimensions -> bucket id in [0, 255]."""
    out = None
    for i in range(1, 9):
        term = F.when(F.element_at(v, i) >= 0, F.lit(1 << (i - 1))).otherwise(F.lit(0))
        out = term if out is None else out + term
    return out.cast("long")


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries (vec_id < N_QUERIES) x corpus.

    The query side is tiny and hinted broadcast — at 100 TB the corpus is
    scanned exactly once with a map-side broadcast join, no shuffle."""
    vecs = _vectors(spark, sf_dir)
    queries = F.broadcast(
        vecs.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
        )
    )
    pairs = queries.join(vecs, F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_ppm(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_ppm"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign bucket.

    Hub buckets (> VEC_BUCKET_CAP vectors) are suppressed on both sides
    before the bucket join — the broadcast anti-join skew guard shared with
    the text LSH tier. The guard is size-gated (VEC_CAP_MIN_ROWS): below the
    gate the query is a single corpus pass with a broadcast of the tiny
    query side — the guard's extra count pass cost more than the join it
    protects at small scale (measured 0.61s -> 1.28s at sf0.1)."""
    vecs = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("v")))
    if _needs_bucket_cap(sf_dir):
        vecs = _cap_buckets(vecs, ["bucket"], cap=VEC_BUCKET_CAP)
    queries = vecs.filter(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket"),
    )
    pairs = queries.join(vecs, on="bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_ppm(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_ppm"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= LSH_TOP_K)
        .orderBy("query_id", "rank")
    )


def _centroid_scores(centroids: list[tuple[int, list[float]]]) -> F.Column:
    """``array<struct<cos, neg_id>>`` of cosines between ``v`` and every
    centroid — the shared scoring kernel of assignment and probing.

    The centroid matrix is *model state*, not data: it ships as ONE
    ``array<array<double>>`` literal (the Spark-ML ``KMeansModel`` broadcast
    pattern), so the expression tree stays constant-size no matter how large
    K = ceil(sqrt(N)) grows — inlining K separate 64-literal fold expressions
    made Catalyst analysis + per-row evaluation cost O(K) plan nodes and was
    ~10x slower at K=45. Both engines fold the dot product in the same
    element order, so the doubles — and any argmax over them — match the
    DuckDB oracle exactly; ties break toward the smaller centroid id via the
    ``(cos, -cid)`` struct ordering."""
    # One F.expr per literal, parsed JVM-side: building these via F.lit on
    # nested Python lists issues a py4j round trip per element (~8s of
    # driver time at K=45 x 64 dims); a single SQL string is milliseconds.
    # The D suffix pins DOUBLE (bare decimals parse as DECIMAL); repr()
    # round-trips the exact binary double.
    def _d(x: float) -> str:
        return repr(float(x)) + "D"

    if not centroids:
        # EMPTY corpus (round-13 empty-input review): a bare array()
        # literal is array<void> and fails zip_with ANALYSIS — Spark
        # crashed at plan time where DuckDB answered zero rows. The
        # corpus that produced zero centroids is itself empty, so no row
        # ever evaluates these; they only need to TYPE-check. The index
        # array is an explicit empty too (sequence(1, 0) DESCENDS).
        cmat = F.expr("CAST(array() AS array<array<double>>)")
        cnorms = F.expr("CAST(array() AS array<double>)")
        neg_ids = F.expr("CAST(array() AS array<double>)")
    else:
        cmat = F.expr(
            "array(" + ",".join("array(" + ",".join(_d(x) for x in cvec) + ")" for _, cvec in centroids) + ")"
        )
        cnorms = F.expr("array(" + ",".join(_d(_norm_of(cvec)) for _, cvec in centroids) + ")")
        neg_ids = F.expr("array(" + ",".join(_d(-cid) for cid, _ in centroids) + ")")
    idxs = (
        F.expr("CAST(array() AS array<int>)")
        if not centroids
        else F.sequence(F.lit(1), F.lit(len(centroids)))
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731 - local kernel
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.transform(
        idxs,
        lambda i: F.struct(
            (dot(F.col("v"), F.element_at(cmat, i)) / (F.col("nrm") * F.element_at(cnorms, i))).alias("cos"),
            F.element_at(neg_ids, i).alias("neg_id"),
        ),
    )


def _ivf_assign(
    vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    scores: F.Column | None = None,
) -> DataFrame:
    """Tag every vector with its nearest centroid (``list_id``) as a pure
    map-side projection — zero shuffles, linear in the corpus, the shape a
    100 TB IVF build needs.

    ``scores`` lets a caller that ALSO probes reuse one parsed
    :func:`_centroid_scores` column: the K x DIM literal matrix costs
    ~0.25 s of driver-side parse/analysis at K=45, and a Column is an
    immutable expression tree, safely shared across frames (optimization
    round 14, guide §7.3 — plan-construction time is driver time)."""
    best = F.array_max(
        scores if scores is not None else _centroid_scores(centroids)
    )
    return vecs.withColumn("list_id", (-best["neg_id"]).cast("long"))


def _norm_of(vec: list[float]) -> float:
    s = 0.0
    for x in vec:
        s += x * x
    return s**0.5


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: corpus vectors are partitioned into
    K = max(IVF_K_MIN, ceil(sqrt(N))) inverted lists (nearest seed centroid);
    each query scans only its IVF_PROBE nearest lists.

    Scale plan: centroids are driver-held model state (KB); assignment is a
    map-only projection over the corpus; the only shuffle is the probe join
    keyed by ``list_id``. With K ~ sqrt(N), expected list size is sqrt(N), so
    per-query candidate volume grows as sqrt(N)*IVF_PROBE instead of N/16;
    AQE skew-join splits any list that still runs hot."""
    # Non-eager localCheckpoint: the fit step (count + seed collect) and the
    # main query are three separate jobs over the same small table — the fit
    # COUNT is the first full-scan consumer, so it materializes the scan+norm
    # while counting (one pass) instead of a dedicated checkpoint job followed
    # by a cached count (two passes — optimization round 14, the CC/BPE
    # eager=False idiom). (At 100 TB the build pipelines the index once the
    # same way, against durable storage.)
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=False)
    _, _, centroids = _ivf_fit(vecs)
    scores = _centroid_scores(centroids)  # parsed once, shared assign/probe
    assigned = _ivf_assign(vecs, centroids, scores=scores)
    probes = _ivf_probes(
        vecs.filter(F.col("vec_id") < IVF_QUERIES), centroids, scores=scores
    )
    pairs = probes.join(assigned, on="list_id").filter(F.col("vec_id") != F.col("query_id"))
    # No dedup needed: every vector lives in exactly one inverted list and a
    # query probes IVF_PROBE *distinct* lists, so (query, neighbor) pairs are
    # unique by construction — a dropDuplicates here is a wasted shuffle.
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_ppm(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_ppm"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= IVF_TOP_K)
        .orderBy("query_id", "rank")
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    scores: F.Column | None = None,
) -> DataFrame:
    """(query_id, qv, qn) x IVF_PROBE nearest centroid list_ids — explode of
    the literal-scored centroid array; map-only like assignment. ``scores``
    shares one parsed centroid matrix with the assign side (see
    :func:`_ivf_assign`)."""
    if scores is None:
        scores = _centroid_scores(centroids)
    top = F.slice(F.reverse(F.array_sort(scores)), 1, IVF_PROBE)
    return queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(F.transform(top, lambda s: (-s["neg_id"]).cast("long"))).alias("list_id"),
    )


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors via bucketed cosine (>= DEDUP_MIN_PPM), over a
    corpus augmented with exact copies of every 10th vector."""
    base = _vectors(spark, sf_dir)
    aug = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + AUG_OFFSET).alias("vec_id"), "v", "nrm"
    )
    corpus = base.unionAll(aug).withColumn("bucket", _bucket(F.col("v")))
    # Skew guard: pairs inside a bucket are quadratic; suppress hub buckets
    # (identical cap + identical size gate in the oracle) so no single key
    # can dominate the join. Size-gated like ann_lsh: the guard's extra
    # corpus pass is pure overhead below VEC_CAP_MIN_ROWS.
    if _needs_bucket_cap(sf_dir):
        corpus = _cap_buckets(corpus, ["bucket"], cap=VEC_BUCKET_CAP)
    a, b = corpus.alias("a"), corpus.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine_ppm(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")).alias("cos_ppm"),
    )
    return pairs.filter(F.col("cos_ppm") >= DEDUP_MIN_PPM).orderBy("vec_a", "vec_b")


# Semantic-dedup cosine threshold: vectors this close inside one cluster are
# "semantically identical" and only the smallest vec_id survives.
SEM_DEDUP_MIN_PPM = 995_000


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus, compare vectors only
    WITHIN their cluster, and keep a vector unless a near-identical one
    (cosine >= ``SEM_DEDUP_MIN_PPM`` ppm) with a smaller vec_id shares its
    cluster. Output is a per-vector verdict ``(vec_id, cluster, is_kept)``
    — the drop set for the curation pipeline. The corpus is augmented with
    exact copies of every 10th vector (same observability device as
    ``embedding_dedup``).

    Scale shape: clustering is the IVF build reused verbatim —
    K = max(16, ceil(sqrt(N))) literal seed centroids, map-only assignment
    (``_ivf_assign``) — so the pairwise stage is confined to ~sqrt(N)-sized
    clusters: total candidate volume ~N^1.5 / 2 instead of N^2, the
    published SemDeDup shape. Degenerate hub clusters (> VEC_BUCKET_CAP
    members — e.g. a null-embedding pileup) are excluded from pair mining
    (their members stay kept=true) via the shared broadcast-anti-join cap,
    identically in the oracle, so one pathological cluster can cost at most
    its own comparisons. No driver materialization beyond the KB-scale
    centroid model state (the ann_ivf fit-step contract)."""
    vecs = _vectors(spark, sf_dir)
    aug = vecs.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + AUG_OFFSET).alias("vec_id"), "v", "nrm"
    )
    # Non-eager checkpoint: count + seed collect + main job all read this
    # frame; the fit count is the first full-scan consumer and materializes
    # it in the same job (optimization round 14, the eager=False idiom).
    corpus = vecs.unionAll(aug).localCheckpoint(eager=False)
    _, _, centroids = _ivf_fit(corpus)
    # Checkpoint the built index: three consumers (the cap's bucket count
    # and both sides of the pair self-join) would otherwise each recompute
    # the K-way distance projection — at scale this materialization is the
    # IVF index build a real pipeline persists once anyway.
    assigned = _ivf_assign(corpus, centroids).localCheckpoint()
    minable = _cap_buckets(assigned, ["list_id"], cap=VEC_BUCKET_CAP)
    a, b = minable.alias("a"), minable.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            cosine_ppm(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")).alias(
                "cos_ppm"
            ),
        )
        .filter(F.col("cos_ppm") >= SEM_DEDUP_MIN_PPM)
        .select("vec_id")
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("list_id").cast("long").alias("cluster"),
            F.col("_dup").isNull().alias("is_kept"),
        )
        .orderBy("vec_id")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the compression step that makes
    a 100 TB ANN corpus hold 4x more vectors per byte (float32 -> int8 codes
    + one scale per vector). Emitted as code-space invariants (count, scale,
    sum, sum-of-squares, first/last code) rather than the raw code array so
    the cross-engine hash compare stays list-format-independent.

    Exactness: floats are first floored to ppm integers (float->double
    widening is exact, the 1e6 multiply rounds identically under IEEE on
    both engines), then codes are ``sign(x) * (|x_ppm| * 127 DIV scale)``
    with ``scale = max(|x_ppm|)`` — the magnitude/sign split keeps every
    division non-negative, where Spark's truncating DIV and DuckDB's
    flooring // agree. Map-only: zero exchanges before the output sort.

    NULL embeddings are EXCLUDED (mirrored in the oracle; round-13
    review): there is nothing to quantize, and the engines disagree on
    the NULL's downstream shape (Spark's ``greatest`` SKIPS NULL
    arguments so scale clamps to 1, DuckDB's returns NULL — a silent
    hash divergence). Zero vectors stay: the scale clamp makes their
    quantization well-defined identically on both engines."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    return quantize_frame(emb).orderBy("vec_id")


def quantize_frame(emb: DataFrame) -> DataFrame:
    """Frame-level quantizer: ``(vec_id, embedding array<float/double>)`` ->
    code-space invariants. See :func:`embedding_quantize`."""
    staged = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(FLOOR(1e6 * x) AS BIGINT))").alias("xp"),
    ).select(
        "vec_id",
        "xp",
        F.expr("greatest(array_max(transform(xp, v -> abs(v))), CAST(1 AS BIGINT))").alias(
            "scale_ppm"
        ),
    ).select(
        "vec_id",
        "scale_ppm",
        F.expr(
            "transform(xp, v -> CASE WHEN v >= 0 THEN (v * 127) DIV scale_ppm "
            "ELSE -((-v * 127) DIV scale_ppm) END)"
        ).alias("q"),
    )
    return staged.select(
        "vec_id",
        F.expr("CAST(size(q) AS BIGINT)").alias("n_dims"),
        "scale_ppm",
        F.expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").alias("q_sum"),
        F.expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)").alias("q_l2"),
        F.expr("element_at(q, 1)").alias("q_first"),
        F.expr("element_at(q, -1)").alias("q_last"),
    )


def _pq_codebook(seed_xp: list[list[int]]) -> list[list[list[int]]]:
    """PQ_M x PQ_CODES x PQ_SUB integer codebook: entry [m][c] is seed
    vector c's m-th subspace slice, in ppm ints. Deterministic by
    construction (seed vectors = the PQ_CODES smallest vec_ids), so the
    DuckDB oracle rebuilds the identical codebook from the same rows."""
    return [
        [xp[m * PQ_SUB : (m + 1) * PQ_SUB] for xp in seed_xp] for m in range(PQ_M)
    ]


def _pq_code_expr(m: int, cbm: list[list[int]]) -> str:
    """SQL for subspace m's code: argmin over the PQ_CODES codebook entries
    of the INTEGER squared L2 distance between the vector's m-th ppm
    subslice and the entry, ties toward the smaller code. The codebook is
    a literal array<array<bigint>> (model state shipped in the expression
    tree, the _centroid_scores pattern); the distance is a
    zip_with/aggregate fold over exactly PQ_SUB elements. Codes are
    1-based so ADC can element_at straight into the lookup table."""
    lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST({v} AS BIGINT)" for v in code) + ")"
            for code in cbm
        )
        + ")"
    )
    dist = (
        f"aggregate(zip_with(slice(xp, {m * PQ_SUB + 1}, {PQ_SUB}), "
        f"element_at({lit}, c), (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    # len(cbm), not PQ_CODES: a corpus smaller than PQ_CODES yields a
    # shorter codebook, and sequencing past it would element_at out of
    # bounds (ANSI error); the oracle's cb CTE shrinks identically.
    # EMPTY codebook (empty corpus): typed empty index array — a bare
    # sequence(1, 0) DESCENDS and the array() literal is array<void>,
    # both of which fail analysis; no row evaluates this on the empty
    # corpus, it only needs to type-check (round-13 empty-input review)
    if not cbm:
        return (
            "(array_min(transform(CAST(array() AS array<int>), "
            "c -> named_struct('d', CAST(0 AS BIGINT), 'c', c)))).c"
        )
    return (
        f"(array_min(transform(sequence(1, {len(cbm)}), "
        f"c -> named_struct('d', {dist}, 'c', c)))).c"
    )


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k with exact rerank (Jegou et al. 2011 ADC +
    the FAISS refine stage — the billion-vector serving shape): vectors
    live in K = max(16, ceil(sqrt(N))) coarse IVF lists and are compressed
    to PQ_M 1-byte codes; queries probe IVF_PROBE lists, shortlist the
    PQ_RERANK best candidates by asymmetric-distance computation — a
    per-query PQ_M x PQ_CODES lookup table of INTEGER dot products in ppm
    space, so ADC never touches the original vectors — then re-score just
    the shortlist with the exact integer cosine against the fetched
    original vectors. Both stages are integer-exact, so the DuckDB oracle
    replays the whole pipeline bit-for-bit.

    Scale shape: the codebook and coarse centroids are KB-scale model
    state (literal arrays / a broadcast 30-row LUT frame — the
    ``embedding_quantize`` + ``ann_ivf`` composition the round-10 VERDICT
    ordered); encode + assignment are ONE map-only projection over the
    corpus (zero pre-join exchanges, plan-pinned); the probe join
    BROADCASTS the (query x probe) side so the corpus never shuffles —
    ADC's per-vector traffic is PQ_M bytes of codes, 1/32nd of the float
    vector, which is the entire point of PQ at 100 TB. The refine stage
    broadcasts the PQ_QUERIES x PQ_RERANK shortlist back onto the corpus
    (a second map-side pass fetching only the shortlisted vectors — the
    "R random reads per query" a production refine pays against storage).
    The only hash exchanges are the two per-query top-k windows over
    candidate rows (~PQ_QUERIES * IVF_PROBE * sqrt(N), then
    PQ_QUERIES * PQ_RERANK — never N). Measured recall@3 vs exact cosine
    on the random synthetic corpus at sf0.1: 0.90 (ADC-only 0.19; the
    IVF-pruning ceiling, ann_ivf with exact in-list scoring, is 0.97)."""
    vecs = (
        _vectors(spark, sf_dir)
        .withColumn("xp", F.expr("transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT))"))
        # fit (count/max + seed collect) + encode share the scan; non-eager:
        # the fit's head aggregate is the first full-scan consumer and
        # materializes it in the same job (optimization round 14)
        .localCheckpoint(eager=False)
    )
    centroids, cb, seed_rows = _pq_fit(vecs)
    scores = _centroid_scores(centroids)  # parsed once, shared assign/probe
    enc = _pq_encode(vecs, centroids, cb, scores=scores)
    # collect the KB-scale probe assignment (<= PQ_QUERIES x IVF_PROBE
    # rows) exactly as the persisted-index serve path does: the serve
    # kernel then attaches LUTs locally instead of re-analyzing the probe
    # scoring subtree and running its broadcast join inside the main plan
    # (optimization round 14 — same Spark expression over the same
    # checkpointed rows, so the probe set is identical by construction)
    probe_rows = [
        (int(r["query_id"]), int(r["list_id"]))
        for r in _ivf_probes(
            vecs.filter(F.col("vec_id") < PQ_QUERIES), centroids, scores=scores
        )
        .select("query_id", "list_id")
        .collect()
    ]
    return _pq_serve(
        spark, vecs, enc, centroids, cb, seed_rows, probes=probe_rows
    )


def _pq_fit(
    vecs: DataFrame, with_key_stats: bool = False
) -> tuple[list, list, list] | tuple[list, list, list, tuple[int, int, int]]:
    """The PQ model fit: headroom guard + ONE KB-scale model-state collect
    via the shared :func:`_ivf_fit` step — coarse centroids (vec_id < k),
    PQ codebook seeds (vec_id < PQ_CODES), query vectors
    (vec_id < PQ_QUERIES); the count rides the headroom aggregate, so the
    fit stays one pass + one collect. Returns
    ``(centroids, codebook, seed_rows)``.

    ``with_key_stats=True`` additionally returns the persisted-index
    location key ``(n, fingerprint, max_vec_id)`` as a 4th element — the
    ``frame_fingerprint_stats`` columns RIDE the head aggregate the fit
    already pays (optimization round 14, guide §1.2: the index build and
    upsert previously ran a SECOND full aggregate pass over the corpus
    just to derive the location key)."""
    from ..sources.tables import FP_MOD as _FPM, fp_fold as _fold

    head = vecs.agg(
        F.count("*").alias("n"),
        F.max(F.expr("array_max(transform(xp, a -> abs(a)))")).alias("mx"),
        F.min(F.size("v")).alias("dmin"),
        F.max(F.size("v")).alias("dmax"),
        F.coalesce(F.min("vec_id"), F.lit(0)).alias("kmn"),
        F.coalesce(F.max("vec_id"), F.lit(0)).alias("kmx"),
        F.coalesce(F.sum(F.col("vec_id") % _FPM), F.lit(0)).alias("ks"),
    ).collect()[0]
    check_adc_headroom(int(head["mx"] or 0))
    if head["dmin"] is not None and (head["dmin"] != DIM or head["dmax"] != DIM):
        from ..errors import PlanningError

        raise PlanningError(
            f"PQ fit requires exactly DIM={DIM} dimensions per vector; "
            f"observed sizes in [{head['dmin']}, {head['dmax']}] — a "
            "mis-sized row would silently truncate (or NULL-poison) the "
            "fixed-width oracle fold (round-12 review)"
        )
    _, seed_rows, centroids = _ivf_fit(
        vecs,
        n=int(head["n"]),
        extra_lim=max(PQ_CODES, PQ_QUERIES),
        extra_cols=("xp",),
    )
    cb = _pq_codebook([list(r["xp"]) for r in seed_rows if r["vec_id"] < PQ_CODES])
    if with_key_stats:
        stats = (
            int(head["n"]),
            _fold(int(head["kmn"]), int(head["kmx"]), int(head["ks"])),
            int(head["kmx"]),
        )
        return centroids, cb, seed_rows, stats
    return centroids, cb, seed_rows


def _pq_encode(
    vecs: DataFrame, centroids: list, cb: list, scores: F.Column | None = None
) -> DataFrame:
    """Encode + coarse-assign ``(vec_id, list_id, codes)``: one map-only
    projection (codes are literal-codebook argmins, list_id the
    literal-centroid argmax) — the corpus is scanned once and never
    exchanged. This IS the index-build pass a production pipeline persists
    (:func:`ivf_pq_index_build`); :func:`ivf_pq_topk` consumes it
    in-flight. ``scores`` shares one parsed centroid matrix with the
    caller's probe side (see :func:`_ivf_assign`)."""
    return _ivf_assign(vecs, centroids, scores=scores).select(
        "vec_id",
        "list_id",
        F.array(*[F.expr(_pq_code_expr(m, cb[m])) for m in range(PQ_M)]).alias("codes"),
    )


def _pq_serve(
    spark: SparkSession,
    vecs: DataFrame,
    enc: DataFrame,
    centroids: list,
    cb: list,
    seed_rows: list,
    n_queries: int = PQ_QUERIES,
    probes: list[tuple[int, int]] | None = None,
    scores: F.Column | None = None,
) -> DataFrame:
    """The PQ probe/ADC/shortlist/refine pipeline over an encoded corpus
    ``enc`` (in-flight from :func:`_pq_encode`, or the persisted index
    read back by :func:`serve_pq_index` — pre-filtered to the probed
    lists there, so partition pruning applies). ``probes`` overrides the
    (query_id, list_id) probe assignment with the LOCAL row list the
    index serve path already collected for the partition-pruning filter:
    the probe x LUT attach is then pure local Python instead of a Spark
    broadcast join of two KB-scale frames (two AQE stage jobs per
    serve — optimization round 14, guide §2.4). ``scores`` shares one
    parsed centroid matrix with the caller (see :func:`_ivf_assign`)."""
    # Per-query ADC lookup tables: lut[m][c] = <query subslice m, codebook
    # entry c> in exact integer arithmetic (associative — Python, Spark
    # and DuckDB cannot disagree). 30 queries x 8 x 16 BIGINTs: KB state.
    luts = [
        (
            int(r["vec_id"]),
            [
                [
                    sum(
                        int(r["xp"][m * PQ_SUB + j]) * cb[m][c][j]
                        for j in range(PQ_SUB)
                    )
                    for c in range(len(cb[m]))  # tracks a sub-PQ_CODES corpus
                ]
                for m in range(PQ_M)
            ],
        )
        for r in seed_rows
        if r["vec_id"] < n_queries
    ]
    if probes is not None:
        # local probe rows: attach each query's LUT in Python — the join of
        # two KB-scale frames needs no cluster
        lut_by_q = dict(luts)
        probe_lut = spark.createDataFrame(
            [(qid, lid, lut_by_q[qid]) for qid, lid in probes],
            schema="query_id bigint, list_id bigint, lut array<array<bigint>>",
        )
    else:
        lut_df = spark.createDataFrame(
            luts, schema="query_id bigint, lut array<array<bigint>>"
        )
        probes_df = _ivf_probes(
            vecs.filter(F.col("vec_id") < n_queries), centroids, scores=scores
        ).select("query_id", "list_id")
        # broadcast the LUT side explicitly: both sides are KB-scale, but
        # Catalyst would otherwise shuffle BOTH tiny sides on query_id
        probe_lut = probes_df.join(F.broadcast(lut_df), "query_id")  # 120 x 30 rows
    pairs = F.broadcast(probe_lut).join(enc, "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"aggregate(sequence(1, {PQ_M}), CAST(0 AS BIGINT), "
            "(acc, m) -> acc + element_at(element_at(lut, m), element_at(codes, m)))"
        ).alias("adc_score"),
    )
    # ADC shortlist: top-PQ_RERANK per query (WindowGroupLimit caps
    # map-side; candidate rows only, never the corpus)
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= PQ_RERANK)
        .drop("arn")
    )
    # Refine: fetch ONLY the shortlisted original vectors (broadcast the
    # PQ_QUERIES x PQ_RERANK id set onto a second map-side corpus pass)
    # and re-score with the exact integer cosine
    fetched = F.broadcast(short).join(
        vecs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("nrm").alias("nn"),
        ),
        "neighbor_id",
    )
    queries_df = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    rer = fetched.join(F.broadcast(queries_df), "query_id").select(
        "query_id",
        "neighbor_id",
        "adc_score",
        cosine_ppm(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")).alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_ppm"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= PQ_TOP_K)
        .orderBy("query_id", "rank")
    )


# IVF-PQ persisted-index layout, shared by ivf_pq_index_build and
# ivf_pq_index_upsert: the build-once/probe-many split of the ivf_pq_topk
# kernel. Each corpus's index is a hive list_id=K parquet layout written by
# the shared partitioned writer, so a probe's IN-filter on list_id prunes
# whole directories at plan time (PartitionFilters in the scan). Location:
# the warehouse ROOT is repo-relative (override via $SPARK_GRAFT_WAREHOUSE),
# and each corpus gets an ISOLATED two-level subdirectory
# {table}/n=<row count>/f=<vec_id fingerprint> (the fingerprint closes the
# same-count clobber race the count alone leaves). Both keys are derivable
# by BOTH engines from the embeddings table alone, so the STATIC oracle SQL
# (captured before any query runs) selects its own corpus's partition out
# of the shared glob with scalar subqueries — no path needs to be known at
# oracle-build time.
IVF_PQ_INDEX_TABLE = "ivf_pq_index"
IVF_PQ_UPSERT_TABLE = "ivf_pq_index_upsert"
# the _pq_encode row as persisted; reading back with it skips schema
# inference and types the list_id partition column
PQ_INDEX_SCHEMA = "vec_id bigint, codes array<int>, list_id bigint"

from ..sources.tables import (  # noqa: E402
    warehouse_root as _warehouse_root,
    write_partitioned,
)


def ivf_pq_location(table: str, n_corpus: int, fp: int) -> str:
    """On-disk path of the persisted index ``table`` for a corpus whose
    ``frame_fingerprint_stats(vecs, "vec_id")`` starts with
    ``(n_corpus, fp)``. The fingerprint keeps two same-count corpora out of
    one partition."""
    return f"{_warehouse_root()}/{table}/n={n_corpus}/f={fp}"


def _persist_and_serve(
    spark: SparkSession,
    table: str,
    n_corpus: int,
    fp: int,
    vecs: DataFrame,
    centroids: list,
    cb: list,
    seed_rows: list,
) -> DataFrame:
    """Encode ``vecs`` under the model, persist the encoding as index
    ``table`` at the location of corpus ``(n_corpus, fp)``, read it back
    and serve the query batch from it. An EMPTY corpus answers with the
    typed empty frame: a zero-row partitioned write leaves no files, and
    the empty model has nothing to probe."""
    if n_corpus == 0:
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, adc_score bigint, "
            "cos_ppm bigint, rank bigint",
        )
    scores = _centroid_scores(centroids)  # parsed once, shared encode/probe
    path = ivf_pq_location(table, n_corpus, fp)
    write_partitioned(
        _pq_encode(vecs, centroids, cb, scores=scores).select(
            "vec_id", "codes", "list_id"
        ),
        path,
        ["list_id"],
        len(centroids),
    )
    index = spark.read.schema(PQ_INDEX_SCHEMA).parquet(path)
    return serve_pq_index(
        spark, vecs, index, centroids, cb, seed_rows, scores=scores
    )


def ivf_pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index build/serve split — the production ANN lifecycle at
    100 TB (FAISS on-disk IndexIVFPQ; the reference's register-tables-
    then-query shape, reference ``benchmarks/src/tpch/run.rs:311-345``):
    the expensive corpus pass (encode + coarse-assign, :func:`_pq_encode`)
    is paid ONCE and persisted as a parquet layout PARTITIONED on
    ``list_id`` (:func:`_persist_and_serve`), then the serve half probes
    the PERSISTED index: the probed-list IN-filter prunes whole list
    directories at plan time (``PartitionFilters`` in the scan — a probe
    touches IVF_PROBE of ~sqrt(N) lists, so at scale a query batch reads a
    vanishing fraction of the index bytes), and the ADC/shortlist/refine
    pipeline (:func:`_pq_serve`) is shared verbatim with
    :func:`ivf_pq_topk`, so the result is bit-identical to the in-flight
    operator.

    Scale shape: build = one map-only corpus pass + one partitioned write
    (the only corpus exchange, paid once); serve = partition-pruned index
    scan (PQ_M bytes/vector of ADC traffic) joined map-side against the
    broadcast (query x probe x LUT) side, shortlist + refine exactly as
    ivf_pq_topk (plan-pinned there; the serve addition pinned here is the
    partition pruning). The model state (centroids, codebook, query LUTs)
    is KB-scale and deterministic from the corpus seed rows, so the DuckDB
    oracle refits it from the embeddings table while reading
    ``(vec_id, list_id, codes)`` from the PERSISTED index parquet — a
    green row proves the on-disk round trip, not just the logical
    pipeline."""
    # fit + encode + serve-side fetch share the scan; non-eager: the fit's
    # head aggregate materializes it in the same job (round 14)
    vecs = _with_xp(_vectors(spark, sf_dir)).localCheckpoint(eager=False)
    # scale- AND content-isolated location: count + vec_id fingerprint RIDE
    # the fit's head aggregate (one pass, not two — optimization round 14),
    # and the SAME values are what the oracle's scalar subqueries compute
    # from the embeddings view — the two engines agree on which partition
    # holds this invocation's index by construction
    centroids, cb, seed_rows, (n_corpus, fp, _) = _pq_fit(vecs, with_key_stats=True)
    return _persist_and_serve(
        spark, IVF_PQ_INDEX_TABLE, n_corpus, fp, vecs, centroids, cb, seed_rows
    )


def serve_pq_index(
    spark: SparkSession,
    vecs: DataFrame,
    index: DataFrame,
    centroids: list,
    cb: list,
    seed_rows: list,
    n_queries: int = PQ_QUERIES,
    scores: F.Column | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index: restrict the index scan to the
    probed lists FIRST (the IN-filter on the list_id partition column is
    what turns into directory pruning — ``PartitionFilters``), then run
    the shared ADC/shortlist/refine pipeline. The probed-list set
    is model-state scale (<= PQ_QUERIES x IVF_PROBE ids, a driver-side
    collect of ~100 longs — the centroid-collect contract, never data);
    the same local rows feed the serve kernel's probe x LUT attach, so the
    K-centroid probe scoring runs exactly once per serve."""
    probe_rows = [
        (int(r["query_id"]), int(r["list_id"]))
        for r in _ivf_probes(
            vecs.filter(F.col("vec_id") < n_queries), centroids, scores=scores
        )
        .select("query_id", "list_id")
        .collect()
    ]
    probed = sorted({list_id for _, list_id in probe_rows})
    pruned = index.filter(F.col("list_id").isin(probed))
    return _pq_serve(
        spark, vecs, pruned, centroids, cb, seed_rows,
        n_queries=n_queries, probes=probe_rows,
    )


# --- IVF-PQ index maintenance under a CDC batch (ivf_pq_index_upsert,
# staged round 13). Completes the ANN lifecycle: build
# (ivf_pq_index_build) -> serve (serve_pq_index) -> MAINTAIN. A CDC-shaped
# embedding change batch (I/U/D) is merged into the corpus and the index
# is REBUILT from the merged corpus under the FROZEN model
# (centroids/codebook stay fixed between full refits, the production
# contract) in the shared layout above, under IVF_PQ_UPSERT_TABLE and keyed
# on the ORIGINAL corpus (the oracle keys its partition selection on the
# embeddings view, which only ever sees the original table). The rebuild
# is the whole cost: the index is built in the same call, at a path keyed
# by the corpus fingerprint, so no earlier index exists to patch in place.


def _upsert_change_batch(vecs: DataFrame, max_id: int) -> DataFrame:
    """Deterministic CDC batch over the embedding corpus (the
    ``cdc.cdc_apply_changes`` derivation pattern, so the DuckDB oracle
    reproduces it exactly), restricted to ``vec_id >= PQ_QUERIES`` so the
    model seeds (vec_id < PQ_CODES) and query vectors (vec_id <
    PQ_QUERIES) stay FIXED — the frozen-model contract would otherwise be
    unverifiable:

    - ``vec_id % 10 == 0``   -> DELETE
    - ``vec_id % 10 in (1,2)`` -> UPDATE (vector negated — norm-preserving
      but assignment-changing, so updates genuinely move between lists)
    - ``vec_id % 10 == 3``   -> INSERT of vec_id + max_id (reversed vector)
    """
    k = F.col("vec_id")
    eligible = vecs.filter(k >= PQ_QUERIES)
    dele = eligible.filter(k % 10 == 0).select(
        "vec_id", "v", F.lit("D").alias("__op")
    )
    upd = eligible.filter((k % 10).isin(1, 2)).select(
        "vec_id",
        F.expr("transform(v, x -> -x)").alias("v"),
        F.lit("U").alias("__op"),
    )
    ins = eligible.filter(k % 10 == 3).select(
        (k + F.lit(max_id)).alias("vec_id"),
        F.reverse("v").alias("v"),
        F.lit("I").alias("__op"),
    )
    return dele.unionAll(upd).unionAll(ins)


def _with_xp(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "xp", F.expr("transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT))")
    )


def ivf_pq_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index maintenance (staged round 13): apply a CDC-shaped
    change batch (insert/update/delete, derived deterministically from the
    corpus — see :func:`_upsert_change_batch`) to the ORIGINAL corpus,
    rebuild the partitioned index from the merged corpus under the model
    fitted on the original, then serve from the on-disk index. Mirrors
    the reference's register-then-query lifecycle
    (``benchmarks/src/tpch/run.rs:311-345``) extended in TIME: register
    once, refresh, query. The refresh is a full rebuild: this call builds
    the index itself, so there is never an earlier index to patch.

    The serve result is BIT-IDENTICAL to the in-flight serve over the
    frozen-model encode of the merged corpus (pinned by pytest), and the
    DuckDB oracle replays ADC/refine from the persisted parquet — a green
    row proves the on-disk state, not the logical dataflow. The merged
    corpus itself comes from the verified :func:`cdc.cdc_merge` kernel
    (whole-row U images, loud unknown-op contract)."""
    from .cdc import cdc_merge

    # non-eager: the fit's head aggregate below is the first full-scan
    # consumer and materializes the checkpoint in the same job (round 14)
    vecs = _with_xp(_vectors(spark, sf_dir)).localCheckpoint(eager=False)
    # location key + insert-id offset ride the fit aggregate (one corpus
    # pass, not two — optimization round 14)
    centroids, cb, seed_rows, (n_orig, fp, max_id) = _pq_fit(
        vecs, with_key_stats=True
    )
    changes = _upsert_change_batch(vecs, max_id).localCheckpoint()
    # the maintained corpus: encoded into the index here and read again by
    # refine, so it is materialized once; the change batch rides the
    # verified CDC merge kernel
    merged = _with_xp(
        cdc_merge(vecs.select("vec_id", "v"), changes, key="vec_id")
    ).withColumn("nrm", norm(F.col("v"))).localCheckpoint()
    return _persist_and_serve(
        spark, IVF_PQ_UPSERT_TABLE, n_orig, fp, merged, centroids, cb, seed_rows
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "embedding_topk": embedding_topk,
        "ann_lsh": ann_lsh,
        "ann_ivf": ann_ivf,
        "embedding_dedup": embedding_dedup,
        "semantic_dedup": semantic_dedup,
        "embedding_quantize": embedding_quantize,
        # staged at round 11, promoted into the gate window at round 12
        "ivf_pq_topk": ivf_pq_topk,
        # staged at round 12, promoted into the gate window at round 13
        "ivf_pq_index_build": ivf_pq_index_build,
        # staged at round 13, promoted into the gate window at round 14
        "ivf_pq_index_upsert": ivf_pq_index_upsert,
    }


_DOT_QV = DUCK_DOT.format(a="qv", b="v", n=DIM)
_DOT_AB = DUCK_DOT.format(a="av", b="bv", n=DIM)
_NORM = DUCK_DOT.format(a="v", b="v", n=DIM)

# WHERE mirrors _vectors' exclusion contract: NULL embeddings have
# nothing to compute on; zero-norm vectors make cosine undefined (the
# self-dot > 0 spelling is sqrt-free and equivalent to nrm > 0)
_DUCK_VECS = f"""vecs AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, sqrt({DUCK_DOT.format(a="embedding::DOUBLE[]", b="embedding::DOUBLE[]", n=DIM)}) AS nrm
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND {DUCK_DOT.format(a="embedding::DOUBLE[]", b="embedding::DOUBLE[]", n=DIM)} > 0
)"""

_DUCK_BUCKET = " + ".join(
    f"(CASE WHEN v[{i}] >= 0 THEN {1 << (i - 1)} ELSE 0 END)" for i in range(1, 9)
)

# DuckDB twin of the vec_id fingerprint fold (over the SAME filtered vecs
# CTE): selects the content partition alongside the count partition.
# ONE shared spelling (sources.tables.duck_fp_sql — round-14 review:
# hand-copied folds used C-style % where Python's is non-negative, a
# silent divergence on negative key ids)
from ..sources.tables import duck_fp_sql as _duck_fp_sql  # noqa: E402

_DUCK_FP = _duck_fp_sql("vec_id")


def _ivf_pq_oracle() -> str:
    """DuckDB replay of the full IVF-PQ+refine pipeline — independent SQL,
    not an unrolled copy of the Spark dataflow: codes come from a
    cross-join argmin (vs Spark's literal-array fold), ADC from an 8-term
    integer dot re-derived per (neighbor, subspace) row (vs Spark's
    Python-built broadcast LUT), and the refine stage re-joins the
    original vectors for the exact FLOOR(1e6 * cos) re-score. Integer
    arithmetic is associative, so the derivations must agree
    bit-for-bit."""
    # squared L2 between vector x and codebook seed cb on subspace mm.m
    dist = " + ".join(
        f"(x.xp[mm.m*{PQ_SUB}+{j}] - cb.cxp[mm.m*{PQ_SUB}+{j}])"
        f" * (x.xp[mm.m*{PQ_SUB}+{j}] - cb.cxp[mm.m*{PQ_SUB}+{j}])"
        for j in range(1, PQ_SUB + 1)
    )
    # integer dot between query subslice and codebook entry on subspace c.m
    adc_dot = " + ".join(
        f"p.qxp[c.m*{PQ_SUB}+{j}] * cb.cxp[c.m*{PQ_SUB}+{j}]"
        for j in range(1, PQ_SUB + 1)
    )
    coarse = DUCK_DOT.format(a="x.v", b="cent.cv", n=DIM)
    return f"""
        WITH {_DUCK_VECS}, xpt AS (
            SELECT vec_id, v, nrm,
                   list_transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT)) AS xp
            FROM vecs
        ), cent AS (
            SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM vecs
            WHERE vec_id < (SELECT GREATEST({IVF_K_MIN}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM vecs)
        ), cb AS (
            SELECT vec_id AS seed, xp AS cxp FROM xpt WHERE vec_id < {PQ_CODES}
        ), assign AS (
            SELECT vec_id, cid AS list_id FROM (
                SELECT x.vec_id, cent.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY x.vec_id
                           ORDER BY {coarse} / (x.nrm * cent.cnrm) DESC, cent.cid ASC
                       ) AS rn
                FROM xpt x CROSS JOIN cent
            ) WHERE rn = 1
        ), codes AS (
            SELECT vec_id, m, seed AS code0 FROM (
                SELECT x.vec_id, mm.m, cb.seed,
                       ROW_NUMBER() OVER (
                           PARTITION BY x.vec_id, mm.m
                           ORDER BY {dist} ASC, cb.seed ASC
                       ) AS rn
                FROM xpt x CROSS JOIN range({PQ_M}) mm(m) CROSS JOIN cb
            ) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, qxp, cid AS list_id FROM (
                SELECT x.vec_id, x.xp AS qxp, cent.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY x.vec_id
                           ORDER BY {coarse} / (x.nrm * cent.cnrm) DESC, cent.cid ASC
                       ) AS rn
                FROM xpt x CROSS JOIN cent WHERE x.vec_id < {PQ_QUERIES}
            ) WHERE rn <= {IVF_PROBE}
        ), scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM({adc_dot}) AS BIGINT) AS adc_score
            FROM probes p
            JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
            JOIN codes c ON c.vec_id = a.vec_id
            JOIN cb ON cb.seed = c.code0
            GROUP BY p.query_id, a.vec_id
        ), short AS (
            SELECT query_id, neighbor_id, adc_score FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC
                ) AS arn FROM scored
            ) WHERE arn <= {PQ_RERANK}
        ), rer AS (
            SELECT s.query_id, s.neighbor_id, s.adc_score,
                   CAST(FLOOR(1e6 * {DUCK_DOT.format(a="q.v", b="nb.v", n=DIM)}
                        / (q.nrm * nb.nrm)) AS BIGINT) AS cos_ppm
            FROM short s
            JOIN vecs q ON q.vec_id = s.query_id
            JOIN vecs nb ON nb.vec_id = s.neighbor_id
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC
            ) AS BIGINT) AS rank
            FROM rer
        )
        SELECT query_id, neighbor_id, adc_score, cos_ppm, rank FROM ranked
        WHERE rank <= {PQ_TOP_K} ORDER BY query_id, rank
    """


# The merged corpus of ivf_pq_index_upsert re-derived in DuckDB: the
# deterministic CDC batch (_upsert_change_batch) applied to vecs —
# survivors verbatim, updates negated, inserts reversed at vec_id + max;
# rows with vec_id < PQ_QUERIES are change-proof
_DUCK_MERGED_VECS = f"""
    SELECT vec_id, v, sqrt({DUCK_DOT.format(a="v", b="v", n=DIM)}) AS nrm FROM (
        SELECT vec_id, v FROM vecs
        WHERE vec_id < {PQ_QUERIES} OR (vec_id % 10) NOT IN (0, 1, 2)
        UNION ALL
        SELECT vec_id, list_transform(v, x -> -x) AS v FROM vecs
        WHERE vec_id >= {PQ_QUERIES} AND (vec_id % 10) IN (1, 2)
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) FROM vecs) AS vec_id,
               list_reverse(v) AS v
        FROM vecs
        WHERE vec_id >= {PQ_QUERIES} AND (vec_id % 10) = 3
    )"""


def _pq_index_oracle(table: str, refine_vecs: str) -> str:
    """DuckDB replay of serving from the persisted index ``table``: the
    encode CTEs of :func:`_ivf_pq_oracle` are REPLACED by a scan of the
    ``(vec_id, list_id, codes)`` files the Spark side just wrote, so a hash
    match proves the on-disk state (assignment AND codes, for every probed
    list; for the upsert, every inserted and updated vector present in its
    new list and every deleted or moved row absent), not merely the logical
    dataflow. The KB-scale model (centroids, codebook, query LUT inputs) is
    refit from the embeddings view — deterministic from the same seed rows
    on both engines, and change-proof under the upsert's frozen-model
    contract (the change batch is restricted to vec_id >= PQ_QUERIES). The
    codebook CTE carries the 1-based seed RANK (codes index codebook
    positions, not seed vec_ids — they differ whenever the seed set is not
    contiguous from 0). ``refine_vecs`` is the ``(vec_id, v, nrm)`` query
    over ``vecs`` the refine stage re-scores against: the corpus itself for
    the build, the merged corpus for the upsert."""
    adc_dot = " + ".join(
        f"p.qxp[mm.m*{PQ_SUB}+{j}] * cb.cxp[mm.m*{PQ_SUB}+{j}]"
        for j in range(1, PQ_SUB + 1)
    )
    coarse = DUCK_DOT.format(a="x.v", b="cent.cv", n=DIM)
    return f"""
        WITH {_DUCK_VECS}, xpt AS (
            SELECT vec_id, v, nrm,
                   list_transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT)) AS xp
            FROM vecs
        ), rvecs AS ({refine_vecs}
        ), idx AS (
            -- scale- AND content-isolated partition selection: the hive
            -- glob spans every corpus ever indexed under the warehouse
            -- root; the scalar subqueries pick THIS corpus's partition by
            -- the same (row count, vec_id fingerprint) pair the Spark side
            -- keyed the path on. Stats over vecs, not raw embeddings: the
            -- Spark side keys the location on the FILTERED ORIGINAL corpus
            -- (exclusion contract)
            SELECT vec_id, CAST(list_id AS BIGINT) AS list_id, codes
            FROM read_parquet(
                '{_warehouse_root()}/{table}/*/*/*/*.parquet',
                hive_partitioning = true
            )
            WHERE TRY_CAST(n AS BIGINT) = (SELECT COUNT(*) FROM vecs)
              AND TRY_CAST(f AS BIGINT) = (SELECT {_DUCK_FP} FROM vecs)
        ), cent AS (
            SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM vecs
            WHERE vec_id < (SELECT GREATEST({IVF_K_MIN}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM vecs)
        ), cb AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS c, xp AS cxp
            FROM xpt WHERE vec_id < {PQ_CODES}
        ), probes AS (
            SELECT vec_id AS query_id, qxp, cid AS list_id FROM (
                SELECT x.vec_id, x.xp AS qxp, cent.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY x.vec_id
                           ORDER BY {coarse} / (x.nrm * cent.cnrm) DESC, cent.cid ASC
                       ) AS rn
                FROM xpt x CROSS JOIN cent WHERE x.vec_id < {PQ_QUERIES}
            ) WHERE rn <= {IVF_PROBE}
        ), scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM({adc_dot}) AS BIGINT) AS adc_score
            FROM probes p
            JOIN idx a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
            CROSS JOIN range({PQ_M}) mm(m)
            JOIN cb ON cb.c = a.codes[mm.m + 1]
            GROUP BY p.query_id, a.vec_id
        ), short AS (
            SELECT query_id, neighbor_id, adc_score FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC
                ) AS arn FROM scored
            ) WHERE arn <= {PQ_RERANK}
        ), rer AS (
            SELECT s.query_id, s.neighbor_id, s.adc_score,
                   CAST(FLOOR(1e6 * {DUCK_DOT.format(a="q.v", b="nb.v", n=DIM)}
                        / (q.nrm * nb.nrm)) AS BIGINT) AS cos_ppm
            FROM short s
            JOIN rvecs q ON q.vec_id = s.query_id
            JOIN rvecs nb ON nb.vec_id = s.neighbor_id
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC
            ) AS BIGINT) AS rank
            FROM rer
        )
        SELECT query_id, neighbor_id, adc_score, cos_ppm, rank FROM ranked
        WHERE rank <= {PQ_TOP_K} ORDER BY query_id, rank
    """


def oracles() -> dict[str, str]:
    return {
        "ivf_pq_topk": _ivf_pq_oracle(),
        "ivf_pq_index_build": _pq_index_oracle(
            IVF_PQ_INDEX_TABLE, "SELECT vec_id, v, nrm FROM vecs"
        ),
        "ivf_pq_index_upsert": _pq_index_oracle(
            IVF_PQ_UPSERT_TABLE, _DUCK_MERGED_VECS
        ),
        "embedding_quantize": """
            WITH base AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(FLOOR(1e6 * x) AS BIGINT)) AS xp
                FROM embeddings
                WHERE embedding IS NOT NULL),
            sc AS (
                SELECT vec_id, xp,
                       GREATEST(list_max(list_transform(xp, v -> abs(v))), 1) AS scale_ppm
                FROM base),
            qq AS (
                SELECT vec_id, scale_ppm,
                       list_transform(xp, v -> CASE WHEN v >= 0 THEN (v * 127) // scale_ppm
                                                    ELSE -((-v * 127) // scale_ppm) END) AS q
                FROM sc)
            SELECT vec_id,
                   CAST(len(q) AS BIGINT) AS n_dims,
                   CAST(scale_ppm AS BIGINT) AS scale_ppm,
                   CAST(list_sum(q) AS BIGINT) AS q_sum,
                   CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS q_l2,
                   q[1] AS q_first,
                   q[-1] AS q_last
            FROM qq ORDER BY vec_id
        """,
        "embedding_topk": f"""
            WITH {_DUCK_VECS}, q AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vecs WHERE vec_id < {N_QUERIES}
            ), scored AS (
                SELECT q.query_id, vecs.vec_id AS neighbor_id,
                       CAST(FLOOR(1e6 * {_DOT_QV} / (qn * nrm)) AS BIGINT) AS cos_ppm
                FROM q JOIN vecs ON vecs.vec_id <> q.query_id
            ), ranked AS (
                SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS BIGINT) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos_ppm, rank FROM ranked
            WHERE rank <= {TOP_K} ORDER BY query_id, rank
        """,
        "ann_lsh": f"""
            WITH {_DUCK_VECS}, bucketed AS (
                SELECT vec_id, v, nrm, bucket FROM (
                    SELECT vec_id, v, nrm, CAST({_DUCK_BUCKET} AS BIGINT) AS bucket,
                           COUNT(*) OVER (PARTITION BY CAST({_DUCK_BUCKET} AS BIGINT)) AS bucket_n
                    FROM vecs
                ) WHERE bucket_n <= {VEC_BUCKET_CAP}
                   OR (SELECT COUNT(*) FROM embeddings) <= {VEC_CAP_MIN_ROWS}
            ), q AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket
                FROM bucketed WHERE vec_id < {LSH_QUERIES}
            ), scored AS (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       CAST(FLOOR(1e6 * {DUCK_DOT.format(a="qv", b="c.v", n=DIM)} / (qn * c.nrm)) AS BIGINT) AS cos_ppm
                FROM q JOIN bucketed c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
            ), ranked AS (
                SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS BIGINT) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos_ppm, rank FROM ranked
            WHERE rank <= {LSH_TOP_K} ORDER BY query_id, rank
        """,
        "ann_ivf": f"""
            WITH {_DUCK_VECS}, cent AS (
                SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM vecs
                WHERE vec_id < (SELECT GREATEST({IVF_K_MIN}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM vecs)
            ), assign AS (
                SELECT vec_id, v, nrm, cid AS list_id FROM (
                    SELECT vecs.vec_id, vecs.v, vecs.nrm, cent.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY vecs.vec_id
                               ORDER BY {DUCK_DOT.format(a="vecs.v", b="cent.cv", n=DIM)} / (vecs.nrm * cent.cnrm) DESC,
                                        cent.cid ASC
                           ) AS rn
                    FROM vecs CROSS JOIN cent
                ) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS list_id FROM (
                    SELECT vecs.vec_id, vecs.v, vecs.nrm, cent.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY vecs.vec_id
                               ORDER BY {DUCK_DOT.format(a="vecs.v", b="cent.cv", n=DIM)} / (vecs.nrm * cent.cnrm) DESC,
                                        cent.cid ASC
                           ) AS rn
                    FROM vecs CROSS JOIN cent WHERE vecs.vec_id < {IVF_QUERIES}
                ) WHERE rn <= {IVF_PROBE}
            ), scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       CAST(FLOOR(1e6 * {DUCK_DOT.format(a="p.qv", b="a.v", n=DIM)} / (p.qn * a.nrm)) AS BIGINT) AS cos_ppm
                FROM probes p JOIN assign a
                  ON a.list_id = p.list_id AND a.vec_id <> p.query_id
            ), ranked AS (
                SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS BIGINT) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos_ppm, rank FROM ranked
            WHERE rank <= {IVF_TOP_K} ORDER BY query_id, rank
        """,
        "semantic_dedup": f"""
            WITH {_DUCK_VECS}, withaug AS (
                SELECT vec_id, v, nrm FROM vecs
                UNION ALL
                SELECT vec_id + {AUG_OFFSET} AS vec_id, v, nrm FROM vecs WHERE vec_id % 10 = 0
            ), cent AS (
                SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM withaug
                WHERE vec_id < (SELECT GREATEST({IVF_K_MIN}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM withaug)
            ), assign AS (
                SELECT vec_id, v, nrm, cid AS cluster FROM (
                    SELECT w.vec_id, w.v, w.nrm, cent.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY w.vec_id
                               ORDER BY {DUCK_DOT.format(a="w.v", b="cent.cv", n=DIM)} / (w.nrm * cent.cnrm) DESC,
                                        cent.cid ASC
                           ) AS rn
                    FROM withaug w CROSS JOIN cent
                ) WHERE rn = 1
            ), minable AS (
                SELECT vec_id, v, nrm, cluster FROM (
                    SELECT *, COUNT(*) OVER (PARTITION BY cluster) AS cn FROM assign
                ) WHERE cn <= {VEC_BUCKET_CAP}
            ), dups AS (
                SELECT DISTINCT b.vec_id
                FROM minable a JOIN minable b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE FLOOR(1e6 * {DUCK_DOT.format(a="a.v", b="b.v", n=DIM)} / (a.nrm * b.nrm)) >= {SEM_DEDUP_MIN_PPM}
            )
            SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
                   d.vec_id IS NULL AS is_kept
            FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id
            ORDER BY s.vec_id
        """,
        "embedding_dedup": f"""
            WITH {_DUCK_VECS}, withaug AS (
                SELECT vec_id, v, nrm FROM vecs
                UNION ALL
                SELECT vec_id + {AUG_OFFSET} AS vec_id, v, nrm FROM vecs WHERE vec_id % 10 = 0
            ), bucketed AS (
                SELECT vec_id, v, nrm, bucket FROM (
                    SELECT vec_id, v, nrm, CAST({_DUCK_BUCKET} AS BIGINT) AS bucket,
                           COUNT(*) OVER (PARTITION BY CAST({_DUCK_BUCKET} AS BIGINT)) AS bucket_n
                    FROM withaug
                ) WHERE bucket_n <= {VEC_BUCKET_CAP}
                   OR (SELECT COUNT(*) FROM embeddings) <= {VEC_CAP_MIN_ROWS}
            ), pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       CAST(FLOOR(1e6 * {DUCK_DOT.format(a="a.v", b="b.v", n=DIM)} / (a.nrm * b.nrm)) AS BIGINT) AS cos_ppm
                FROM bucketed a JOIN bucketed b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, cos_ppm FROM pairs
            WHERE cos_ppm >= {DEDUP_MIN_PPM} ORDER BY vec_a, vec_b
        """,
    }
