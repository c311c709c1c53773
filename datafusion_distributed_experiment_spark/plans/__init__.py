"""Plan introspection and stable snapshot rendering.

The reference snapshot-tests pretty-printed physical plans, filtering
volatile UUIDs for stability (reference ``src/test_utils/insta.rs:14-26``,
``tests/distributed_aggregation.rs:32-62``). Spark's ``explain`` output is
similarly volatile (plan ids ``#123``, codegen ids, file paths, statistics);
:func:`normalized_plan` scrubs those so plans can be asserted as golden
strings.

:func:`stage_summary` exposes the exchange/stage structure that the
reference materializes explicitly via ``assign_stages``
(reference ``src/plan/assign_stages.rs:11-57``) — in Spark the same
information lives in the physical plan's Exchange nodes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_SCRUBS: list[tuple[re.Pattern[str], str]] = [
    # expression ids:  l_orderkey#123L  -> l_orderkey#NL
    (re.compile(r"#\d+"), "#N"),
    # codegen stage ids: *(3) HashAggregate -> *(N) HashAggregate
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    # plan_id / stage markers
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#?N?\d*\]"), "[id=N]"),
    # absolute file locations and sizes
    (re.compile(r"file:[^\],\s]+"), "file:PATH"),
    (re.compile(r"Location: \S+"), "Location: PATH"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(S)"),
    # memory addresses / object hashes
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),
    # streaming runIds and other UUIDs (micro-batch executed plans)
    (
        re.compile(
            r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
        ),
        "UUID",
    ),
]


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (the analog of the reference's
    ``displayable(plan).indent(true)``, ``tests/distributed_aggregation.rs:22``)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def normalize_text(text: str) -> str:
    """Scrub volatile ids from already-rendered plan text — the same
    treatment :func:`normalized_plan` applies, for plans that arrive as
    strings (e.g. a streaming query's executed micro-batch plan, which is
    only reachable through ``StreamingQuery.explainInternal``)."""
    for pat, repl in _SCRUBS:
        text = pat.sub(repl, text)
    return text.strip()


def normalized_plan(df: DataFrame, mode: str = "simple") -> str:
    """Plan text with volatile ids scrubbed — safe for snapshot assertions."""
    return normalize_text(plan_string(df, mode))


def stage_summary(df: DataFrame) -> dict[str, int]:
    """Count the distribution-relevant operators in the physical plan.

    ``exchanges`` is the number of shuffle boundaries (the reference's
    ``ArrowFlightReadExec`` insertions, ``src/plan/assign_stages.rs:38-44``);
    ``broadcasts`` are broadcast exchanges (CollectLeft hash joins,
    reference ``tests/distributed_repartitions.rs:61``). Use in tests to
    assert a plan has the shuffle structure you intended.
    """
    text = plan_string(df, "simple")
    return {
        "exchanges": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", text)),
        "broadcasts": text.count("BroadcastExchange"),
        "sorts": text.count("Sort "),
        "aggregates": text.count("HashAggregate"),
        # One alternation so "FileScan parquet" (which CONTAINS the substring
        # "Scan parquet") counts once, not twice; "Scan parquet" alone still
        # catches the DSv2 BatchScan spelling.
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", text)),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from the formatted plan — assert pushdown
    actually reached the parquet scan (reference observes the same via
    ``predicate=...`` scan snapshots, ``tests/distributed_repartitions.rs:71``)."""
    text = plan_string(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", text)


def executed_metrics(df: DataFrame) -> list[dict]:
    """Per-operator runtime metrics from the EXECUTED plan — Spark's analog
    of the reference displaying metric-annotated plans after a run. Returns
    one dict per physical node (pre-order): ``{"node": name,
    "numOutputRows": int | None, ...selected metrics}``. Only meaningful
    after an action has run the plan; AQE-finalized subtrees are included
    (the adaptive root is unwrapped to its final plan)."""
    node = df._jdf.queryExecution().executedPlan()
    keep = {"numOutputRows", "numFiles", "spillSize", "shuffleRecordsWritten"}
    out: list[dict] = []

    def walk(n) -> None:
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(n.executedPlan())
            return
        row: dict = {"node": name}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in keep:
                row[kv._1()] = kv._2().value()
        out.append(row)
        kids = n.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        # broadcast/shuffle query stages hang their subtree off `plan`
        if name.endswith("QueryStage"):
            walk(n.plan())

    walk(node)
    return out
