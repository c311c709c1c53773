#!/usr/bin/env python
"""TPC-H table conversion CLI — the analog of the reference's ``tpch-convert``
(reference ``benchmarks/src/tpch/convert.rs:33-160``): read ``.tbl`` (pipe-
delimited, trailing ``|``) or CSV with the canonical schema, write parquet or
csv with a chosen compression codec.

Usage:
    python scripts/convert.py --input nation.tbl --table nation \\
        --output /tmp/nation_pq --format parquet --compression zstd
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Canonical TPC-H schemas (reference benchmarks/src/tpch/mod.rs:48-141),
# restricted to the driver's simplified column set where applicable.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--table", required=True, choices=sorted(SCHEMAS))
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-format", choices=["tbl", "csv"], default="tbl")
    ap.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    ap.add_argument(
        "--compression",
        default="zstd",
        choices=["zstd", "snappy", "gzip", "lz4", "uncompressed"],
    )
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from datafusion_distributed_experiment_spark import Engine

    eng = Engine()
    schema = SCHEMAS[args.table]
    if args.input_format == "tbl":
        df = eng.register_tbl(args.table, args.input, schema)
    else:
        df = eng.register_csv(args.table, args.input, schema=schema)
    if args.partitions:
        df = df.repartition(args.partitions)
    if args.format == "parquet":
        eng.write_parquet(df, args.output, compression=args.compression)
    else:
        eng.write_csv(df, args.output)
    print(f"wrote {df.count()} rows to {args.output} ({args.format}/{args.compression})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
