#!/usr/bin/env bash
# CI-style pre-snapshot gate: refuses a green verdict unless the FULL pytest
# suite and the FULL sf0.001 oracle sweep both pass, and records their complete
# output in a committed artifact (GATE.txt) so the pass counts are reproducible
# evidence rather than prose (round 3's silent rot — data drift breaking 10
# tests with nobody noticing — is exactly what this catches).
#
# Usage: bash scripts/gate.sh        # from the repo root
# Exit 0 = safe to snapshot; nonzero = DO NOT commit a green claim.
set -u
cd "$(dirname "$0")/.."
ART=GATE.txt
# The stamp names the tree the gate checked: an uncommitted change to a
# tracked file appends +dirty and a short hash of its diff against HEAD.
REV=$(git rev-parse --short HEAD 2>/dev/null || echo 'no-commit')
if [ -n "$(git status --porcelain --untracked-files=no 2>/dev/null)" ]; then
  REV="$REV+dirty-$(git diff HEAD | git hash-object --stdin | cut -c1-7)"
fi
{
  echo "== gate run $(date -u +%Y-%m-%dT%H:%M:%SZ) @ $REV =="
  echo
  echo "-- pytest tests/ -q --"
} > "$ART"

python -m pytest tests/ -q -rs >> "$ART" 2>&1
PYTEST_RC=$?
# A skipped test is a path nothing checked, so a skip turns the gate red
# (-rs lists the skip reasons above the summary line).
if tail -n 1 "$ART" | grep -qE "[0-9]+ skipped"; then
  PYTEST_RC=1
fi

{
  echo
  echo "-- oracle sweep sf0.001 (scripts/verify_correctness.py) --"
} >> "$ART"
python scripts/verify_correctness.py /root/testdata/sf0.001 >> "$ART" 2>&1
ORACLE_RC=$?

# sf0.1 subset: the most data-sensitive operators (timestamp handling,
# watermark-bounded state, LSH candidate volume, iterative convergence) —
# the class where correctness rot has historically tracked DATA SCALE, not
# code (round 3's timestamp-unit drift passed at sf0.001). The driver only
# verifies sf0.01; the bench runs sf0.1; this closes that gap.
{
  echo
  echo "-- oracle sweep sf0.1 subset (data-sensitive operators) --"
} >> "$ART"
python scripts/verify_correctness.py /root/testdata/sf0.1 \
  events_asof events_range_join events_kmv_distinct sessionize user_sessions \
  stream_click_attr stream_dedup stream_enrich stream_sliding \
  minhash_dedup_pairs dedup_incremental dedup_clusters dedup_clusters_star \
  corpus_pipeline minhash_pairs_skew kmeans_lloyd_t3 ngram_span_dedup \
  stream_topk hll_distinct weighted_sample bpe_apply bpe_merges_t2 \
  domain_token_profile events_quantile_sketch ivf_pq_topk \
  ivf_pq_index_build ivf_pq_index_upsert minhash_index_upsert >> "$ART" 2>&1
SF01_RC=$?

# Spill-pressure pass: sort/window/as-of queries under 128-row force-spill
# thresholds must still hash-match AND show nonzero spillSize in the
# executed plan — the reference's --memory-limit/FairSpillPool parity
# (benchmarks/src/util/options.rs:90-115) proven, not just plumbed.
{
  echo
  echo "-- spill-pressure sweep sf0.01 (scripts/verify_spill.py) --"
} >> "$ART"
python scripts/verify_spill.py /root/testdata/sf0.01 >> "$ART" 2>&1
SPILL_RC=$?

# Bench smoke: a partial bench run must print only JSON on stdout, the
# per_query_ms chunks and then the metric line the driver parses, with
# both queries counted. Comparison lines and logs go to stderr. The smoke
# runs at sf0.001 against the committed sf0.1 results.json, so its stderr
# must hold the comparison refusal and no faster/slower ratio.
{
  echo
  echo "-- bench smoke sf0.001 (bench.py --query q6,stream_dedup) --"
} >> "$ART"
BENCH_ERR=$(mktemp)
BENCH_OUT=$(python bench.py --query q6,stream_dedup --iterations 1 \
  --sf-dir /root/testdata/sf0.001 --cpus 4 2> "$BENCH_ERR")
BENCH_RC=$?
cat "$BENCH_ERR" >> "$ART"
printf '%s\n' "$BENCH_OUT" >> "$ART"
if [ "$BENCH_RC" -eq 0 ]; then
  if ! grep -q "regression comparison refused" "$BENCH_ERR" \
    || grep -qE "faster|slower" "$BENCH_ERR"; then
    echo "bench smoke: stderr lacks the comparison refusal or holds a ratio" >> "$ART"
    BENCH_RC=1
  fi
fi
rm -f "$BENCH_ERR"
if [ "$BENCH_RC" -eq 0 ]; then
  printf '%s\n' "$BENCH_OUT" | python -c '
import json, sys
objs = [json.loads(line) for line in sys.stdin.read().splitlines()]
assert all(o.get("detail") == "per_query_ms" for o in objs[:-1]), objs
assert objs[-1]["metric"] == "total_query_seconds", objs[-1]
assert objs[-1]["n_queries"] == 2, objs[-1]
' >> "$ART" 2>&1
  BENCH_RC=$?
fi

# Traced-count repeat: two traced perfbench runs of curate_ops (the BPE,
# dedup and pandas-UDF queries) must report identical jobs, stages, tasks,
# shuffle bytes and result rows, so a job count cited for these queries is
# a property of the plan and not of one run.
{
  echo
  echo "-- traced counts repeat, curate_ops (perfbench/test_counts.py) --"
} >> "$ART"
python3 -m pytest perfbench/test_counts.py -q -k curate_ops >> "$ART" 2>&1
COUNTS_RC=$?

{
  echo
  echo "== result: pytest rc=$PYTEST_RC oracle rc=$ORACLE_RC sf0.1-subset rc=$SF01_RC spill rc=$SPILL_RC bench rc=$BENCH_RC counts rc=$COUNTS_RC =="
} >> "$ART"

tail -n 5 "$ART"
if [ "$PYTEST_RC" -ne 0 ] || [ "$ORACLE_RC" -ne 0 ] || [ "$SF01_RC" -ne 0 ] || [ "$SPILL_RC" -ne 0 ] || [ "$BENCH_RC" -ne 0 ] || [ "$COUNTS_RC" -ne 0 ]; then
  echo "GATE RED — do not snapshot. Full output in $ART" >&2
  exit 1
fi
echo "GATE GREEN — $ART updated"
