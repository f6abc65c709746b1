#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans of the headline queries."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as e  # noqa: E402
from elastic_asset_etl_poc_spark.session import get_spark  # noqa: E402

PICKS = [
    ("svc_phase1_dedup", "Phase 1: scan->filter->project->hash-agg; range+term pushed to scan"),
    ("svc_phase2_parents", "Phase 2: broadcast left-semi IN-list join; probe side never shuffles"),
    ("join_region_revenue", "Star join: all dims broadcast; fact flows map-side into partial agg"),
    ("agg_pricing_summary", "TPC-H Q1 shape: partial+final hash aggregation, date filter pushed"),
    ("embed_neardup_cosine", "Blocked all-pairs cosine: ONE exchange on the block-pair key into an Arrow groups kernel"),
    ("asof_nearest_clicks", "Nearest as-of: one exchange, two window sorts over it - never a second shuffle"),
    ("asof_salted_clicks", "Salted as-of: per-partition work bounded by time bucket; carry window runs on the tiny key-by-bucket frame"),
    ("scd2_user_event_history", "SCD2 from a change log: both windows and the island aggregate share one exchange on the key"),
    ("budget_select_docs", "Budget selection: corpus-side aggregate + bucket-frame window + broadcast semi-join - no single-partition window over the corpus"),
    ("profile_orders", "Data profile: one scan, one Expand for exact multi-distinct, partial+final aggregate"),
    ("bm25_topk_docs", "BM25 retrieval: term filter inside the token array pre-explode; dl carried through tf agg; broadcast df/N/avgdl; per-query top-k window"),
    ("decontam_docs", "Decontamination: broadcast eval-shingle probe + per-doc hit agg + anti-join - the corpus never shuffles on shingle"),
    ("funnel_fold_events", "Funnel: one per-user shuffle; the step state machine is an aggregate-fold lambda, not k self-joins"),
    ("drift_psi_value_events", "Numeric PSI: frozen-ruler quartile edges broadcast as a single row; binning is a scan-rate CASE; both window counts in one conditional agg"),
    ("rrf_fusion_docs", "Hybrid retrieval fusion: two independent top-k arms full-outer joined on (query, doc); the re-rank runs on <= 20 rows per query"),
    ("gini_revenue_customers_dist", "Distributed exact rank: broadcast value-bucket edges, bucket-PARTITIONED rank window, <=32-row offset cumsum - no single-partition window over the entity frame"),
    ("classifier_calibration_approx", "Reliability bins at scale: GK quartile edges broadcast as one row; bin assignment is a scan-rate CASE; zero global windows"),
]


def main() -> None:
    spark = get_spark(master="local[8]")
    qs = e.queries()
    sf = "/root/testdata/sf0.01"
    out = [
        "# Physical plans — headline queries (sf0.01, AQE final plans)\n",
        "Captured with `explain(formatted)` after execution; regenerate with",
        "`python3 tools/gen_plans.py`.  The properties asserted in",
        "`tests/test_plans_physical.py` are visible here: `PushedFilters` carrying",
        "the raw-ns time range and term equality, pruned `ReadSchema`,",
        "`BroadcastHashJoin ... LeftSemi`, and partial/final `HashAggregate` pairs.\n",
    ]
    # bloom_semi_join's suite query returns a localCheckpoint (the plan
    # audit lives in-operator), so capture the operator's lazy plan
    # directly: the bitmap-literal Filter must sit below the probe-side
    # Exchange of the sort-merge scrub join.
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.bloom import bloom_semi_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    orders = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    lineitem = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bloom_df = bloom_semi_join(
        lineitem, orders, probe_key="l_orderkey", build_key="o_orderkey"
    )
    bloom_plan = bloom_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    import re

    # elide the bitmap literal (64Ki longs) so the plan stays readable
    bloom_plan = re.sub(r"\[-?\d+(?:,-?\d+){64,}\]", "[<bitmap literal>]", bloom_plan)
    tree = bloom_plan[: bloom_plan.find("(1)")].rstrip()
    out.append(
        "## bloom_semi_join (operator plan, broadcast disabled)\n\n"
        "Bloom prune-below-exchange: the bitmap-literal Filter (2) sits "
        "under the probe Exchange (3) of the sort-merge scrub join — the "
        "shuffle moves only rows that passed the 512 KiB-max summary.\n\n"
        "```\n" + tree + "\n```\n"
    )
    for name, why in PICKS:
        df = qs[name](spark, sf)
        df.collect()  # AQE finalizes stages on execution
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out.append(f"## {name}\n\n{why}\n\n```\n{plan}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
