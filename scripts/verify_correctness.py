#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, comparing
row count, column names, and an order-insensitive value hash — the
cross-engine version of the reference's differential test
(reference tests/tpch.rs:168-194, where the single-node run is the oracle).

Usage: python scripts/verify_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash over tests/_compare.canonical() — ONE
    canonicalization (columns sorted by name, values stringified, rows
    sorted) shared with the pytest comparisons, so a future stringification
    fix cannot make the gate scripts and the test suite disagree on the
    same frames."""
    from tests._compare import canonical

    header = ",".join(sorted(df.columns))
    body = "\x1e".join("\x1f".join(row) for row in canonical(df))
    return hashlib.sha256(f"{header}\x1e{body}".encode()).hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Deliberately a VANILLA session (no engine confs): the driver's harness
    # builds its own SparkSession, so this replicates the round-1 failure mode
    # where Engine must configure a session it didn't build.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-correctness")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only:
        unknown = only - set(queries)
        if unknown:
            # fail LOUDLY: a renamed/dropped query silently skipped here
            # would keep the gate green while losing its sweep coverage
            print(f"unknown query names (renamed or dropped?): {sorted(unknown)}")
            return 2
    failures: list[str] = []
    attempted = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        finally:
            spark.catalog.clearCache()  # evict per-query persist()s
        spark_s = time.perf_counter() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} (no oracle, rows-only) [{spark_s:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            try:
                hs, ho = canonical_hash(sdf), canonical_hash(odf)
            except Exception as exc:  # noqa: BLE001 - e.g. duplicate col labels
                print(f"FAIL {name}: canonicalization error: {exc}")
                failures.append(name)
                continue
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
                merged = sdf.reindex(sorted(sdf.columns), axis=1).astype(str)
                omerged = odf.reindex(sorted(odf.columns), axis=1).astype(str)
                sset = set(map(tuple, merged.values))
                oset = set(map(tuple, omerged.values))
                diff1 = list(sset - oset)[:3]
                diff2 = list(oset - sset)[:3]
                if diff1:
                    problems.append(f"spark-only rows: {diff1}")
                if diff2:
                    problems.append(f"oracle-only rows: {diff2}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(sdf)} hash match [{spark_s:.1f}s]")

    print(f"\n{attempted - len(failures)}/{attempted} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
