"""Training-data pipeline operators (beyond the reference's own surface).

The reference demonstrates an extension mechanism for shipping custom
operators to workers (reference ``tests/custom_extension_codec.rs:160-264``);
in Spark the analogous extension point is DataFrame compositions and
Arrow-batched pandas UDFs, which PySpark serializes and ships natively. Each
operator here is built for 100 TB scale: no driver-side collection, shuffle
only on explicit keys, broadcast only for provably-small sides.

``pipeline_queries()`` / ``pipeline_oracles()`` export the driver-facing
(spark, sf_dir) -> DataFrame callables and their DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession


def _tier_modules() -> list[tuple[str, ModuleType]]:
    """The operator modules by home tier, in bench order. Each module
    exports ``queries()`` and ``oracles()``."""
    from ..sources import custom
    from ..streaming import events as streaming_events
    from ..streaming import stateful
    from . import (
        analytics,
        bpe,
        cdc,
        curation,
        dedup,
        graph,
        joins,
        multimodal,
        pipeline,
        profile,
        retrieval,
        selection,
        similarity,
        sketches,
        temporal,
        text,
    )

    return [
        ("selection", selection),
        ("dedup", dedup),
        ("similarity", similarity),
        ("multimodal", multimodal),
        ("curation", curation),
        ("joins", joins),
        ("cdc", cdc),
        ("profile", profile),
        ("analytics", analytics),
        ("graph", graph),
        ("retrieval", retrieval),
        ("bpe", bpe),
        ("sketches", sketches),
        ("custom", custom),
        ("pipeline", pipeline),
        ("temporal", temporal),
        ("streaming", streaming_events),
        ("stateful", stateful),
        ("text", text),
    ]


def pipeline_tiers() -> list[tuple[str, dict[str, Callable[[SparkSession, str], DataFrame]]]]:
    """Operator queries grouped by their home tier.

    ``__spark_entry__.query_tiers`` keeps this order for the queries
    outside the driver's gate window. The window itself is computed from
    the committed ``CORRECTNESS_r*.json`` files: never-green queries first,
    then by last green round (oldest first), then by number of green rounds
    (fewest first), then by name.

    The bench runs streaming-named tiers last: each micro-batch query
    leaves RocksDB state-store maintenance threads and checkpoint cleanup
    running for a while after it stops, which measurably contaminates the
    next few *batch* query timings in a sequential bench (observed 0.7s ->
    5-8s on the text tier when streaming preceded it)."""
    return [(tier, module.queries()) for tier, module in _tier_modules()]


def pipeline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for _, tier_queries in pipeline_tiers():
        out.update(tier_queries)
    return out


def pipeline_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for _, module in _tier_modules():
        out.update(module.oracles())
    return out
