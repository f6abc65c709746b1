#!/usr/bin/env python3
"""Record each lazy batch query's physical-plan shape into
tests/plan_budget.json: shuffle-exchange count, broadcast count,
cartesian products, and Python-eval operators — plus an EXCLUSION
REGISTRY naming every query that is deliberately NOT budgeted and why.

tests/test_plan_budget.py asserts (a) the CURRENT plans stay within
these budgets, so a shuffle sneaking into any query (the regression
class the hand-written asserts in test_plans_physical.py catch
one-by-one) fails mechanically for every budgeted query at once, and
(b) every queries() entry is either budgeted or listed in the registry
with a reason — a new query cannot silently escape the net.

Regenerate ONLY after reviewing a diff: a higher number must be a
deliberate trade, not drift.  Usage: python3 tools/gen_plan_budget.py
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Why a query can be exempt from plan budgeting: eager builders execute
# on build (streaming drains), and localCheckpoint/collect-based chains
# (dedup/ANN/iterative/audit families) truncate their visible lineage,
# so a plan budget would measure the tail only.  First matching rule
# wins; the generated registry records the REASON per query name so the
# justification travels with the artifact.
EXCLUSION_RULES: tuple[tuple[str, str], ...] = (
    ("stream", "streaming: executes its micro-batch drain on build; the returned frame is a static result, not the plan"),
    ("recall_", "recall audit: builds exact+approx arms with collect/localCheckpoint, visible lineage is the comparison tail only"),
    ("dedup_", "dedup family: dedup_survivors collects the pair set at build time (driver union-find fast path) / localCheckpoint"),
    ("jaccard", "near-dup pair build memoized via localCheckpoint; plan is the serving tail"),
    ("minhash", "banded minhash stores built eagerly (parquet side artifacts); plan is the serving tail"),
    ("kmv_overlap", "bottom-k sketch build localCheckpointed (feeds every pair twice + the exact audit); plan is the estimation tail"),
    ("simhash", "fingerprint band stores built eagerly; plan is the serving tail"),
    ("contamination", "decontam pair build collects candidate set at build time"),
    ("ivf", "IVF coarse centroids trained eagerly (collect to driver); plan is the probe tail"),
    ("knn", "ANN family: codebooks/centroids/query set collected at build time; plan is the serving tail"),
    ("neardup", "near-dup family: banded pair build checkpointed; plan is the serving tail"),
    ("cluster_docs", "k-means centroids iterate eagerly on the driver; plan is the assignment tail"),
    ("multimodal", "Arrow mapInPandas media kernels: plan shape is the UDF scan, budget would pin nothing beyond the batch count"),
    ("pagerank", "iterative: per-round localCheckpoint truncates lineage to the last round"),
    ("cluster_split", "dedup_survivors collects pairs at build time"),
    ("audit_split_leakage", "composes cluster_split's eager pair build"),
    ("pretrain_pipeline", "mid-plan localCheckpoint truncates lineage between stages"),
    ("train_classifier", "eager gradient loop: result is a tiny createDataFrame, the training plan is per-step"),
    ("entity_clusters_star", "iterative star contraction: per-round localCheckpoint truncates lineage to the last round"),
    ("bfs_khop", "iterative BFS: per-round localCheckpoint truncates lineage; the returned frame is the visited union of checkpointed rounds"),
    ("kcore", "iterative peel: per-round localCheckpoint + certified fixpoint; the returned frame is the final degree agg"),
    ("entity_clusters", "dedup_survivors collects the pair set at build time (driver union-find fast path)"),
    ("bucketed_join", "writes bucketed tables at build time and returns a localCheckpoint (plan is the tail; the no-Exchange join shape self-audits in-query and in tests/test_scale_ops.py)"),
    ("bloom_semi_join", "bloom bitmap collected at build time (bounded 8 KiB) and result localCheckpointed under the no-broadcast conf; prune-below-exchange plan shape asserted in tests/test_plans_physical.py"),
    ("mmr_rerank", "retrieval serving tail: the greedy selection localCheckpoints per step (2^k lineage guard), so the visible plan is the final checkpointed union only"),
    ("partitioned_scan", "writes the partitioned layout at build time and returns a localCheckpoint; the pruning shape self-audits in-query (PartitionFilters + inputFiles)"),
    ("dpp_scan", "writes the partitioned fact + dim layouts at build time and returns a localCheckpoint; the dynamicpruning plan shape self-audits in-query"),
)

SF_DIR = "/root/testdata/sf0.001"

#: Queries ALLOWED to plan a no-partition window (physical: a Window
#: whose input is an Exchange SinglePartition) — each with the reason
#: its windowed frame is bounded by something other than the corpus.
#: The r11 judge's lint: a new query planning a global window without
#: an entry here fails generation AND the pytest net, so serializing
#: an unbounded frame through one task is a reviewed decision, never
#: drift.  (Top-k queries rank the ≤k survivors of a
#: TakeOrderedAndProject — the window input is k rows by construction.)
#: Note what does NOT flag: the limit-then-rank top-k pattern
#: (orderBy().limit(k) + rank window) plans NO Exchange SinglePartition
#: — TakeOrderedAndProject already yields one k-row partition, so the
#: lint structurally distinguishes the fixed join_skew_advisor shape
#: from the rank-then-filter anti-pattern it replaced.
SINGLE_PARTITION_WINDOW_OK: dict[str, str] = {
    "mann_whitney_events": "window over the quantized distinct-value frame (round(value,2): bounded by value range, not corpus)",
    "ks_test_events": "CDF window over the quantized distinct-value frame",
    "spearman_corr_events": "two rank windows over the quantized distinct-value frames (one per axis)",
    "bh_fdr_events": "step-up windows over m = |event types| hypothesis rows",
    "budget_select_docs": "cumulative window over the integer score-bucket frame (#buckets rows)",
    "training_manifest_docs": "budget stage: cumulative window over #buckets rows",
    "skyline_parts": "prefix-max window over DISTINCT minimize-dim values (attribute domain, not corpus)",
    "chi2_independence_events": "marginal/total windows over the |A|x|B| contingency-cell frame",
    "randomized_response_events": "debias window over the |event types| category frame",
    "rfm_segments_events": "DISCLOSED exact twin: three global NTILEs over the per-user frame; rfm_segments_approx is the certified production swap",
    "classifier_calibration_docs": "DISCLOSED exact twin: global NTILE reliability bins; classifier_calibration_approx is the certified production swap (broadcast quartile edges, map-side CASE)",
    "woe_iv_events": "IV-total window over the 4-row bin frame",
    "gini_revenue_customers": "DISCLOSED exact twin: rank window over the customer DIMENSION frame; gini_revenue_customers_dist is the certified distributed-rank swap",
    "gini_revenue_customers_dist": "cumulative offset window over the <=32-row value-bucket frame (bucket grid is a config constant, not corpus — the corpus rank window is bucket-PARTITIONED)",
    "kaplan_meier_events": "survival product over the distinct event-day frame",
    "quantile_sketch_events": "rank window over the <=k-row min-merged 'ALL' sketch frame (the literal grp column constant-folds the partition spec away; the frame is sketch-bounded)",
}


#: Queries ALLOWED to keep a higher-order function in a Filter/Join
#: condition on a stage that feeds a shuffle Exchange (detected as
#: ``lambdafunction`` in the condition text — every HOF prints one and
#: every HOF is CodegenFallback, which excludes its WHOLE stage from
#: WholeStageCodegen).  The r15 bloom regression (F.forall in the probe
#: predicate: 39 s vs 3.3 s at sf1, green through every gate for five
#: rounds) generalized: a new interpreted corpus-shuffle predicate
#: fails generation AND the pytest net unless its frame is argued
#: bounded here.  Currently EMPTY — all four prior sites were
#: rewritten codegen-clean in r16 (stopword array_remove fold,
#: retrieval array_except containment, gini literal-edge fold).
HOF_HOT_CONDITION_OK: dict[str, str] = {}


def exclusion_reason(name: str) -> str | None:
    for sub, reason in EXCLUSION_RULES:
        if sub in name:
            return reason
    return None


_WINDOW_NODE = re.compile(r"\b(Window|WindowGroupLimit|RunningWindowFunction)\b")

#: Physical nodes whose condition/key expressions are expected to stay
#: inside WholeStageCodegen.  A higher-order function anywhere in a
#: stage is CodegenFallback and CollapseCodegenStages refuses to wrap
#: the stage, so the WHOLE scan+filter+exchange pipeline runs
#: interpreted — the r15 bloom lesson (F.forall in the probe predicate:
#: 39 s vs 3.3 s at sf1) generalized into a mechanical net.
_HOT_CONDITION_NODES = (
    "Filter",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

_TREE_NODE = re.compile(
    r"^(?P<prefix>[\s:+\-]*)(?:\*\s)?(?P<name>[A-Za-z][\w .=]*?)\s*\((?P<id>\d+)\)\s*$"
)


def hof_hot_conditions(plan_formatted: str) -> int:
    """Count Filter/Join nodes sitting BELOW a shuffle Exchange whose
    condition (or join keys) contains a lambda — i.e. an interpreted
    predicate on a stage that feeds a shuffle.

    Detection is textual but unambiguous: EVERY higher-order function
    (forall/exists/aggregate/transform/filter/zip_with/...) prints its
    lambda argument as ``lambdafunction(...)`` in the formatted plan,
    and all of them are ``CodegenFallback`` — so ``lambdafunction``
    inside a Condition/keys line is exactly the expression class that
    excludes the stage from WholeStageCodegen.  Scope matches the rule
    written in operators/similarity.py's module note: a BOUNDED frame
    may keep the interpreted tax (those nodes sit above the exchanges
    or in excluded eager queries); a corpus-shuffle predicate may not.
    Main plan only — the Subqueries section (if any) is not walked."""
    lines = plan_formatted.splitlines()
    # ---- tree section: name/id/depth per node, in print order --------
    try:
        start = next(i for i, l in enumerate(lines) if "== Physical Plan ==" in l)
    except StopIteration:
        return 0
    nodes: list[tuple[int, str, str]] = []  # (depth, name, id)
    for line in lines[start + 1 :]:
        if not line.strip():
            break
        m = _TREE_NODE.match(line)
        if not m:
            continue
        nodes.append((len(m.group("prefix")), m.group("name").strip(), m.group("id")))
    # ---- which node ids have a shuffle Exchange ANCESTOR -------------
    # children print below parents at greater depth; a node feeds a
    # shuffle iff an "Exchange" (not BroadcastExchange) sits above it.
    below_exchange: set[str] = set()
    stack: list[tuple[int, str]] = []  # (depth, name)
    for depth, name, nid in nodes:
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if any(n == "Exchange" for _, n in stack) and any(
            name.startswith(h) for h in _HOT_CONDITION_NODES
        ):
            below_exchange.add(nid)
        stack.append((depth, name))
    if not below_exchange:
        return 0
    # ---- detail sections: scan flagged nodes' condition/key lines ----
    cnt = 0
    cur_id: str | None = None
    hit_ids: set[str] = set()
    detail_hdr = re.compile(r"^\((\d+)\) ")
    for line in lines:
        m = detail_hdr.match(line)
        if m:
            cur_id = m.group(1)
            continue
        if cur_id not in below_exchange or cur_id in hit_ids:
            continue
        stripped = line.strip()
        if (
            stripped.startswith(("Condition", "Join condition", "Left keys", "Right keys"))
            and "lambdafunction" in stripped
        ):
            hit_ids.add(cur_id)
            cnt += 1
    return cnt


def single_partition_windows(df) -> int:
    """Count Window operators fed by an Exchange SinglePartition — the
    no-partition-spec window that serializes its whole input frame
    through ONE task.  Detection: in the simple-mode plan tree a
    global window always prints as Window / (Sort) / Exchange
    SinglePartition on adjacent lines (children print below parents),
    so an Exchange SinglePartition within 3 lines under a Window node
    — before any other Window — is that window's input.  Global
    no-grouping aggregates also use Exchange SinglePartition but have
    no Window above them and are NOT counted (their partials are
    1-row-per-partition, a different and fine shape)."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    lines = plan.splitlines()
    cnt = 0
    for i, line in enumerate(lines):
        if not _WINDOW_NODE.search(line):
            continue
        for j in range(i + 1, min(i + 4, len(lines))):
            if _WINDOW_NODE.search(lines[j]):
                break
            if "Exchange SinglePartition" in lines[j]:
                cnt += 1
                break
    return cnt


def plan_counts(df) -> dict[str, int]:
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    lines = [l.strip() for l in plan.splitlines()]

    def n(node: str) -> int:
        return sum(1 for l in lines if l.startswith("(") and f") {node}" in l)

    return {
        "shuffle_exchanges": n("Exchange"),
        "broadcasts": n("BroadcastExchange"),
        "cartesian": n("CartesianProduct"),
        "python_eval": sum(1 for l in lines if "BatchEvalPython" in l),
        "single_partition_windows": single_partition_windows(df),
        "hof_hot_conditions": hof_hot_conditions(plan),
        # not budgeted (informational): >0 means an in-query lazy
        # localCheckpoint truncated the visible plan, so the counts
        # above cover the post-checkpoint TAIL only — the generator
        # records such queries in the "tail_only" registry so a
        # 0-exchange budget is never read as "shuffle-free execution"
        "existing_rdd_scans": sum(
            1 for l in lines if l.startswith("(") and "Scan ExistingRDD" in l
        ),
    }


def main() -> None:
    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(master="local[8]")
    budget: dict[str, dict[str, int]] = {}
    exclusions: dict[str, str] = {}
    unannotated: list[str] = []
    for name, fn in e.queries().items():
        reason = exclusion_reason(name)
        if reason is not None:
            exclusions[name] = reason
            continue
        budget[name] = plan_counts(fn(spark, SF_DIR))
        if (
            budget[name]["single_partition_windows"] > 0
            and name not in SINGLE_PARTITION_WINDOW_OK
        ):
            unannotated.append(name)
    if unannotated:
        raise SystemExit(
            "queries plan a no-partition window without a bounded-frame "
            f"annotation in SINGLE_PARTITION_WINDOW_OK: {sorted(unannotated)}"
        )
    hof_unannotated = sorted(
        n
        for n, b in budget.items()
        if b["hof_hot_conditions"] > 0 and n not in HOF_HOT_CONDITION_OK
    )
    if hof_unannotated:
        raise SystemExit(
            "queries plan a higher-order function in a Filter/Join "
            "condition feeding a shuffle (interpreted hot stage — the "
            "r15 bloom class) without a bounded-frame annotation in "
            f"HOF_HOT_CONDITION_OK: {hof_unannotated}"
        )
    stale = sorted(
        n
        for n in SINGLE_PARTITION_WINDOW_OK
        if n in budget and budget[n]["single_partition_windows"] == 0
    )
    if stale:
        print(f"note: annotated but no longer planning a global window: {stale}")
    window_ok = {
        n: r
        for n, r in SINGLE_PARTITION_WINDOW_OK.items()
        if n in budget and budget[n]["single_partition_windows"] > 0
    }
    hof_ok = {
        n: r
        for n, r in HOF_HOT_CONDITION_OK.items()
        if n in budget and budget[n]["hof_hot_conditions"] > 0
    }
    # advisor r16: a lazy in-query localCheckpoint truncates the
    # EXPLAINED plan to Scan ExistingRDD, so the budget counts cover
    # the post-checkpoint tail only (the build's exchanges still run).
    # Record those queries so a 0-exchange budget is read as "tail is
    # exchange-free", never "query is shuffle-free".  The strip of the
    # informational metric keeps budgets strictly enforceable numbers.
    tail_only = {
        n: (
            "plan truncated by in-query localCheckpoint "
            f"({b['existing_rdd_scans']} ExistingRDD scan(s)): budget "
            "counts cover the post-checkpoint tail only"
        )
        for n, b in budget.items()
        if b["existing_rdd_scans"] > 0
    }
    for b in budget.values():
        b.pop("existing_rdd_scans", None)
    with open(os.path.join(ROOT, "tests", "plan_budget.json"), "w") as fh:
        json.dump(
            {
                "budgets": budget,
                "exclusions": exclusions,
                "single_partition_window_ok": window_ok,
                "hof_hot_condition_ok": hof_ok,
                "tail_only": tail_only,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(
        f"budgeted {len(budget)} queries, {len(exclusions)} justified "
        f"exclusions, {len(window_ok)} annotated global windows, "
        f"{len(tail_only)} tail-only budgets"
    )
    spark.stop()


if __name__ == "__main__":
    main()
