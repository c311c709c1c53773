"""The benchmark's three workloads: which queries a pass runs, on how much
data, and the DuckDB oracle each output is checked against.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable taken from the
package's public surface:

- ``tpch_scaled``: TPC-H text from ``queries`` run through ``Engine.sql``;
  q15 runs as its 3-statement script through ``Engine.sql_script``.
- ``curate_ops`` and ``maintain_stream``: the operator callables of
  ``operators.pipeline_queries()`` with their ``pipeline_oracles()`` SQL.

Every pass of a workload runs the same list in the same order. The lists
are cut to what fits the benchmark's time budget (one process per run,
35-60 s all in); README.md says what was left out.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from datagen import Sizes

TPCH = ("q1", "q3", "q9", "q15", "q18", "q21")
CURATE = ("minhash_dedup_pairs", "bpe_apply", "media_features")
MAINTAIN = ("ivf_pq_index_build", "stream_dedup")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sizes: Sizes
    row_groups: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # orders/lineitem scaled to sf0.1 (about 600 k lineitem rows) in 8
        # row groups, so scans, joins and aggregates do real work
        Workload("tpch_scaled", TPCH, Sizes.sf(0.1), row_groups=8),
        # 250 documents, 250 embeddings, 5 k events: small enough that
        # jobs, driver gaps and UDF start-up dominate
        Workload("curate_ops", CURATE, Sizes.sf(0.005)),
        Workload("maintain_stream", MAINTAIN, Sizes.sf(0.005)),
    )
}


def callables(w: Workload, engine) -> dict[str, Callable]:
    """``{query: (spark, sf_dir) -> DataFrame}`` for the workload's list."""
    if w.name == "tpch_scaled":
        from datafusion_distributed_experiment_spark import queries as corpus

        def sql(name: str) -> Callable:
            text = corpus.load(f"tpch/{name}")
            return lambda spark, sf_dir: engine.sql(text)

        def script(name: str) -> Callable:
            text = corpus.load(f"tpch/{name}_script")
            return lambda spark, sf_dir: engine.sql_script(text, result_statement=1)

        return {q: script(q) if q == "q15" else sql(q) for q in w.queries}
    from datafusion_distributed_experiment_spark.operators import pipeline_queries

    ops = pipeline_queries()
    return {q: ops[q] for q in w.queries}


def oracles(w: Workload) -> dict[str, str]:
    """DuckDB SQL per query. Read after the warehouse root is set: the
    index oracles glob the persisted index under it."""
    if w.name == "tpch_scaled":
        from datafusion_distributed_experiment_spark import queries as corpus

        return {q: corpus.strip_hints(corpus.load(f"tpch/{q}")) for q in w.queries}
    from datafusion_distributed_experiment_spark.operators import pipeline_oracles

    sqls = pipeline_oracles()
    return {q: sqls[q] for q in w.queries}
