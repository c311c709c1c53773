"""Table sources and sinks.

One function per registration path the reference supports (reference
``tests/tpch.rs:149-161`` parquet listing tables; ``benchmarks/src/tpch/
run.rs:294-316`` csv/.tbl with explicit schemas; ``benchmarks/src/tpch/
convert.rs:128-160`` parquet/csv sinks with compression).
:class:`..engine.Engine` delegates here; the functions are also usable
standalone on any SparkSession.
"""

from .events import read_events
from .tables import (
    read_csv_table,
    read_parquet_table,
    read_tbl_table,
    write_csv,
    write_parquet,
)

__all__ = [
    "read_events",
    "read_parquet_table",
    "read_csv_table",
    "read_tbl_table",
    "write_parquet",
    "write_csv",
]
