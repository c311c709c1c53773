"""Differential corpus tests: Spark vs DuckDB oracle on identical SQL text.

The cross-engine version of the reference's single-node-vs-distributed
differential strategy (reference tests/tpch.rs:168-194: same plan, two
execution topologies, byte-equal output; here: same SQL, two engines,
canonicalized-equal output)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

import __spark_entry__ as entry_mod

from ._compare import assert_frames_match
from .conftest import SF_DIR

_QUERIES = sorted(entry_mod.queries())
_ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", _QUERIES)
def test_query_matches_oracle(name, spark, duck):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    if name not in _ORACLES:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    odf = duck.execute(_ORACLES[name]).df()
    assert_frames_match(sdf, odf, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_queries_and_oracles_share_keys():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(o) <= set(q), f"oracles without queries: {set(o) - set(q)}"


def _window_names(directory: str) -> list[str]:
    return [name for _, qs in entry_mod.query_tiers(directory) for name in qs]


def _assert_window_invariants(names: list[str], by_round: dict[int, set[str]]) -> None:
    """The driver oracle-checks only the first GATE_WINDOW entries of
    queries(). With 124 queries and 50 slots the full surface cycles every
    ceil(124/50) = 3 rounds, so:

    (a) every query outside the window holds a green row in SOME committed
        CORRECTNESS artifact;
    (b) every query outside the window was green in one of the THREE most
        recent artifacts (the length of that cycle);
    (c) every never-green query is inside the window;
    (d) no query green in the newest artifact holds a slot."""
    size = entry_mod.GATE_WINDOW
    window, outside = set(names[:size]), names[size:]
    verified = set().union(*by_round.values())
    missing = [n for n in outside if n not in verified]
    assert not missing, (
        f"queries outside the {size}-entry gate window with NO green driver "
        f"row in any committed CORRECTNESS artifact: {missing}"
    )
    recent = sorted(by_round)[-3:]
    recent_green = set().union(*(by_round[r] for r in recent))
    too_stale = [n for n in outside if n not in recent_green]
    assert not too_stale, (
        f"queries outside the window whose last green row predates the three "
        f"most recent CORRECTNESS artifacts (rounds {recent}): {too_stale}"
    )
    never_green = set(names) - verified
    assert never_green <= window, f"never-green queries outside the window: {never_green - window}"
    fresh = window & by_round[max(by_round)]
    assert not fresh, f"queries green in the newest artifact hold window slots: {fresh}"


def test_gate_window_rotation_leaves_no_query_unverified():
    _assert_window_invariants(list(entry_mod.queries()), entry_mod.green_rounds())


def test_gate_window_moves_when_a_new_artifact_lands(tmp_path):
    """Simulate the driver committing the next CORRECTNESS artifact with
    the current window all green: the recomputed window must move off it
    and still satisfy every invariant, with no file edited."""
    for path in glob.glob(os.path.join(entry_mod._ARTIFACT_DIR, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    before = _window_names(str(tmp_path))
    window = before[: entry_mod.GATE_WINDOW]
    latest = max(entry_mod.green_rounds(str(tmp_path)))
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / f"CORRECTNESS_r{latest + 1}.json").write_text(
        json.dumps({name: green for name in window})
    )
    after = _window_names(str(tmp_path))
    assert sorted(after) == sorted(before)
    assert not set(after[: entry_mod.GATE_WINDOW]) & set(window), "the window did not move"
    _assert_window_invariants(after, entry_mod.green_rounds(str(tmp_path)))


def test_sql_corpus_reregisters_on_sf_dir_switch(spark):
    """Round-11 review fix: temp views are ONE per-session namespace, but
    the registration memo was keyed per (session, dir, table) — after a
    query ran at another sf_dir, a later call with the first dir found its
    stale keys and silently served the other scale's data. The memo now
    tracks the session's CURRENT dir and re-registers on a switch."""
    from pyspark.sql import functions as F

    q = entry_mod.queries()["events_daily"]

    def total(sf_dir):
        # sum of per-day counts — scale-dependent even though the row
        # count (days x types) is identical across scales
        return q(spark, sf_dir).agg(F.sum("n_events")).collect()[0][0]

    small = total("/root/testdata/sf0.001")
    big = total("/root/testdata/sf0.01")
    again = total("/root/testdata/sf0.001")
    assert small == again, "switching back must re-register the first dir"
    assert big != small, "the two scales must actually differ for this test"
