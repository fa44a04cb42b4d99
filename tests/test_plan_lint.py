"""Registry-wide physical-plan lint: structural anti-patterns that are
individually asserted for a handful of queries (tests/test_physical_plans.py)
are enforced here for EVERY registry entry, so a future query can't
reintroduce them unnoticed.

- ``CartesianProduct``: an unpartitionable O(N·M) row-by-row loop — never
  acceptable; intentional small-side cross joins must go through
  ``F.broadcast`` (→ BroadcastNestedLoopJoin, which is bounded by the
  broadcast side and appears only where a side is provably tiny).
- ``BatchEvalPython``: a row-at-a-time Python UDF in the plan — the slow
  path this repo bans; Python stages must be Arrow-batched
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas are fine).
- Global (unpartitioned) ``Window``: the window's whole input funnels
  through ONE task — fatal over data that grows with the corpus.
  Allowed only for inputs bounded independent of data scale, each
  justified in ``_GLOBAL_WINDOW_OK``.

Building each entry's DataFrame at sf0.001 (some registry functions run
bounded driver-side jobs — kmeans fit, BPE rounds, report counts — so
this sweep costs ~a minute; the plan inspection itself is free).
"""

from __future__ import annotations

import re

import pytest

from etl_project_gcp_spark import queries as Q

SF = "/root/testdata/sf0.001"

# Entries whose global window runs over an input BOUNDED independent of
# corpus size — the only acceptable reason to single-thread a window.
_GLOBAL_WINDOW_OK = {
    # lag over the weekly revenue aggregate: rows ≈ 52/year, calendar-
    # bounded (the docstring makes the same argument).
    "weekly_revenue_growth",
    # rank over the distinct-word vocabulary (Heaps-law sublinear in
    # corpus size; the production fit path caps it via vocab_limit).
    "doc_unigram_lm_score",
    # running sum over per-shard totals: rows = shard count, a config
    # constant.
    "token_budget_packing",
    # davg_over empty-frame window over the per-brand rollup: p_brand
    # is a fixed ~25-value domain, so the single-partition exchange
    # moves a bounded frame no matter the corpus size. (Contrast
    # top_supplier_revenue, whose per-supplier rollup GROWS with data —
    # rewritten to a partial-aggregable max + broadcast crossJoin.)
    "brands_above_avg_revenue",
}


def _global_windows(plan: str) -> list[str]:
    """Window nodes with an ORDER spec but no partition spec. Node
    format: ``Window [exprs], [partitionCols], [orderCols]`` — the
    partition group (when present) is plain column refs; an order group
    carries ASC/DESC. Two groups whose second has no sort direction is
    a partitioned-unordered window (fine); two groups WITH a direction
    is a global ordered window (the scale hazard)."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ").strip()
        if not s.startswith("Window "):
            continue
        groups = re.findall(r"\[(?:[^\[\]]|\[[^\]]*\])*\]", s)
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(r"ASC|DESC", groups[1]):
            continue
        hits.append(s[:110])
    return hits


@pytest.fixture(scope="module")
def plans(spark):
    """One executed-plan string per registry entry, built once."""
    return {
        name: fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        for name, fn in Q.queries().items()
    }


def test_no_cartesian_product_or_rowwise_python_anywhere(plans):
    bad: dict[str, list[str]] = {}
    for name, plan in plans.items():
        smells = [
            s
            for s in ("CartesianProduct", "BatchEvalPython")
            if s in plan
        ]
        if smells:
            bad[name] = smells
    assert not bad, f"plan anti-patterns found: {bad}"


def test_no_global_window_over_unbounded_input(plans):
    bad: dict[str, list[str]] = {}
    for name, plan in plans.items():
        hits = _global_windows(plan)
        if hits and name not in _GLOBAL_WINDOW_OK:
            bad[name] = hits
    assert not bad, (
        "global (unpartitioned) windows outside the justified allowlist "
        f"— partition the window or justify the bounded input: {bad}"
    )
    stale = _GLOBAL_WINDOW_OK - set(plans)
    assert not stale, f"allowlist names unknown entries: {stale}"
