"""Shared SQL corpus.

Each ``.sql`` file under ``tpch/`` and ``pipeline/`` is written in the ANSI
dialect subset accepted by BOTH Spark SQL and DuckDB, so the very same text
runs on the engine and on the DuckDB oracle (the reference's differential
strategy: the single-node run is the oracle, reference
``tests/tpch.rs:168-194``; here the second engine is the oracle).

Spark-only optimizer hints are embedded as ``/*+ ... */`` comments — Spark
consumes them, DuckDB parses them as plain comments; :func:`strip_hints`
removes them for cosmetic cleanliness on the oracle side.

Money/quantity aggregates are computed as ``SUM(CAST(expr AS DECIMAL(18,4)))``
then cast back to DOUBLE: per-row double arithmetic is bit-identical across
engines (IEEE), the decimal SUM is exact and order-independent, so results
hash-match regardless of partitioning or aggregation order — the cross-engine
analog of the reference comparing pretty-printed batches byte-for-byte
(reference ``tests/tpch.rs:190-192``).
"""

from __future__ import annotations

import re
from pathlib import Path

_HERE = Path(__file__).parent
_HINT = re.compile(r"/\*\+[^*]*\*/\s*")


def strip_hints(sql: str) -> str:
    return _HINT.sub("", sql)


def load(name: str) -> str:
    """Load a corpus query by name, e.g. ``tpch/q1`` or ``pipeline/dedup_exact``."""
    path = _HERE / f"{name}.sql"
    return path.read_text().strip().rstrip(";")
