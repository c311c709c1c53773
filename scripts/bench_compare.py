#!/usr/bin/env python
"""Compare two bench ``results.json`` files with the bench's own comparator.

Prints ``compare_runs``' line per query (the 1.2x faster/slower markers of
reference ``benchmarks/src/util/run.rs:212-260``, with the mean ratio
alongside). Two back-to-back runs of unchanged code should read "no change"
almost everywhere; otherwise the per-query verdicts carry no signal.

Usage: python scripts/bench_compare.py previous.json current.json
Exit 0 when at least 95% of the lines read "no change" with no
MEAN-REGRESSED flag.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_distributed_experiment_spark.bench import compare_runs  # noqa: E402


def main() -> int:
    previous, current = (json.loads(Path(p).read_text()) for p in sys.argv[1:3])
    lines = compare_runs(current, previous)
    for line in lines:
        print(line)
    stable = sum("no change" in line and "MEAN-REGRESSED" not in line for line in lines)
    return 0 if lines and stable >= 0.95 * len(lines) else 1


if __name__ == "__main__":
    raise SystemExit(main())
