"""Physical-plan audits: the properties that make these plans scale are
asserted, not hoped for (SURVEY.md §4: 'trust Catalyst + verify pushdown
with explain()')."""

from conftest import SF_DIR

from elastic_asset_etl_poc_spark.plans.services import (
    batch_search_for_service_parents,
    batch_search_for_services,
)


def fmt_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_phase1_filters_reach_scan(spark):
    """Phase 1 reads the tick's cached signal window: the time range
    reaches the parquet scan that fills it, the term filter the
    in-memory scan of its batches (batch pruning by column stats)."""
    plan = fmt_plan(batch_search_for_services(spark, SF_DIR))
    assert "GreaterThanOrEqual(ts," in plan  # time range pushed (F1)
    mem_scan = plan.split("(1) InMemoryTableScan", 1)[1].split("\n\n", 1)[0]
    assert "= purchase)" in mem_scan  # term on the cached batches (F2)
    # column pruning: props needed for env derivation, value/event_id not
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "value" not in read_schema


def test_phase2_semi_join_broadcasts(spark):
    services = batch_search_for_services(spark, SF_DIR)
    plan = fmt_plan(batch_search_for_service_parents(spark, SF_DIR, services))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan  # probe side must not shuffle


def test_star_join_broadcasts_dims(spark):
    import __spark_entry__ as e

    df = e.queries()["join_region_revenue"](spark, SF_DIR)
    plan = fmt_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # nation, region, dims
    assert "SortMergeJoin" not in plan or "l_orderkey" in plan  # fact join may SMJ


def test_pricing_summary_partial_agg(spark):
    import __spark_entry__ as e

    df = e.queries()["agg_pricing_summary"](spark, SF_DIR)
    plan = fmt_plan(df)
    assert "LessThanOrEqual(l_shipdate," in plan  # date filter pushed
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_whole_stage_codegen_everywhere(spark):
    df = batch_search_for_services(spark, SF_DIR)
    df.collect()  # AQE only finalizes (and codegens) stages on execution
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "*(" in plan  # WholeStageCodegen stage markers — stays in Tungsten
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs


def test_cosine_pairs_single_exchange_no_collect(spark):
    """The blocked all-pairs kernel: ONE shuffle (on the block-pair key)
    into one Arrow groups-kernel — and nothing driver-side."""
    from elastic_asset_etl_poc_spark.operators.similarity import cosine_pairs
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    df = cosine_pairs(load_table(spark, SF_DIR, "embeddings"), threshold=0.45)
    plan = fmt_plan(df)
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l
    ]
    assert len(exchanges) == 1  # block-pair repartition only
    assert "FlatMapGroupsInPandas" in plan  # the numpy matmul kernel
    assert "CollectLimit" not in plan and "BroadcastExchange" not in plan


def test_asof_nearest_single_shuffle(spark):
    """direction='nearest' needs two window sorts but must reuse ONE
    exchange on the key — never a second shuffle."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.temporal import asof_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    df = asof_join(clicks, purchases, on="user_id", payload=["value"], direction="nearest")
    plan = fmt_plan(df)

    def nodes(name):
        return [
            l for l in plan.splitlines()
            if l.strip().startswith("(") and f") {name}" in l
        ]

    assert len(nodes("Exchange")) == 1
    assert len(nodes("Window")) == 2  # backward + forward passes


def test_jaccard_cap_is_broadcast_anti_join(spark):
    """The hot-shingle cap must be a broadcast anti-join against the tiny
    hot set — not a window sort over the full posting list.  Inspect the
    LAZY capped-shingle stage, built as the suite's shared shingles
    build it: jaccard_pairs materializes it with localCheckpoint, which
    truncates the visible lineage."""
    from elastic_asset_etl_poc_spark.operators.neardup import capped_sets, shingles
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    df, _ = capped_sets(shingles(load_table(spark, SF_DIR, "documents")))
    plan = fmt_plan(df)
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # no Window operator anywhere in the jaccard plan
    assert "\nWindow" not in plan and "Window [" not in plan


def test_unigram_tfidf_broadcast_vocab_joins(spark):
    from elastic_asset_etl_poc_spark.operators.text import tfidf_score, unigram_logprob
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for df in (unigram_logprob(docs), tfidf_score(docs, ("spark", "join"))):
        plan = fmt_plan(df)
        # vocab/total tables broadcast back — the corpus side never
        # shuffles for the join, and nothing falls back to a loop join
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


def test_dup_ngram_spans_partial_agg_no_cartesian(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import duplicate_ngram_spans
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    plan = fmt_plan(duplicate_ngram_spans(load_table(spark, SF_DIR, "documents")))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the dup-gram agg keeps map-side partials (partial_count before the
    # exchange): at least one HashAggregate pair around an Exchange
    assert plan.count("HashAggregate") >= 4


def test_dedup_incremental_digest_only_shuffle(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_incremental
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    newb = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0")
    plan = fmt_plan(dedup_incremental(newb, corpus))
    # the corpus side reduces to digests before the anti join; raw text
    # appears only in the final batch-side re-join
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_rollup_gapfill_scaffold_broadcast_no_cartesian(spark):
    """The dense scaffold build is a broadcast cross of |keys| × 1-row
    bounds; the scaffold⋈rollup stitch must never SMJ the raw input, and
    the raw events collapse through a map-side partial aggregate."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["rollup_gapfill_events"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final rollup
    assert "BroadcastExchange" in plan  # 1-row bounds / small stitch side


def test_outlier_iqr_bounds_broadcast(spark):
    """Quartile fences are a per-type frame broadcast back onto the raw
    rows — the big side must not shuffle for that join."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["outlier_iqr_events"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_no_raw_window_no_cartesian(spark):
    """Each funnel stage is a keyed aggregate; the only cross joins are
    the three 1-row stage-count frames at the top."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["funnel_events"](spark, SF_DIR))
    assert "\nWindow" not in plan and "Window [" not in plan
    assert plan.count("HashAggregate") >= 6  # 3 stages × partial+final


def test_hopping_window_single_agg_shuffle(spark):
    """F.window with a slide explodes window starts map-side then
    aggregates — one exchange, no join."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["hopping_window_counts"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_rolling_zscore_single_window_shuffle(spark):
    """All rolling statistics share ONE partitioned window sort — a
    second Exchange would mean the frame aggregates split."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["rolling_zscore_events"](spark, SF_DIR))
    assert len([l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l and "Reused" not in l]) == 1
    assert "SortMergeJoin" not in plan


def test_scd2_history_single_shuffle(spark):
    """Both windows and the island aggregate must share ONE exchange on
    the key — shuffle-once regardless of history length."""
    from elastic_asset_etl_poc_spark.operators.temporal import scd2_history
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    ev = load_table(spark, SF_DIR, "events")
    df = scd2_history(ev, key="user_id", attr="event_type", tiebreak="event_id")
    plan = fmt_plan(df)

    def nodes(name):
        return [
            l for l in plan.splitlines()
            if l.strip().startswith("(") and f") {name}" in l
        ]

    assert len(nodes("Exchange")) == 1


def test_bloom_probe_filter_is_codegen_and_hof_free(spark):
    """The r15 regression pin: the bloom probe predicate must stay
    INSIDE WholeStageCodegen and contain NO higher-order function.
    HOFs (forall/aggregate/...) are CodegenFallback and exclude their
    whole stage from codegen — with forall, the scan+filter+exchange
    probe stage ran fully interpreted (39 s vs 3.3 s at sf1 for the
    full query).  The executed plan's simple string marks codegen'd
    nodes with ``*(N)``; the element_at membership Filter must carry
    the marker, and 'forall' must not appear anywhere in the plan."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.bloom import bloom_semi_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    orders = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bloom_semi_join(
            lineitem, orders, probe_key="l_orderkey", build_key="o_orderkey"
        )
        # collect() executes df's OWN QueryExecution so AQE finalizes
        # and codegen markers appear (a write would run a separate one)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "forall" not in plan, "HOF reintroduced into the bloom probe"
    import re

    assert any(
        re.search(r"\*\(\d+\) Filter ", ln) and "element_at" in ln
        for ln in plan.splitlines()
    ), "bloom membership Filter not inside WholeStageCodegen"


def test_bloom_prune_sits_below_probe_exchange(spark):
    """The bloom filter's whole value is pruning BEFORE the sort-merge
    shuffle: in explain output children print below parents, so the
    probe-side Exchange line must appear before (above) the Filter line
    carrying the bitmap test.  A plan where the bloom test floats above
    the exchange ships the full probe side and is a regression even
    with identical results."""
    from elastic_asset_etl_poc_spark.operators.bloom import bloom_semi_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    from pyspark.sql import functions as F

    orders = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # explain INSIDE the conf window: plans are lazy, restoring the
        # threshold first would re-optimize the scrub join to broadcast
        plan = fmt_plan(
            bloom_semi_join(
                lineitem, orders, probe_key="l_orderkey", build_key="o_orderkey"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan and "LeftSemi" in plan
    # formatted-mode detail blocks: "(N) NodeName" followed by argument
    # lines; node numbers increase downstream (leaves first)
    import re

    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    filter_num = exchange_num = None
    for b in blocks:
        m = re.match(r"\((\d+)\) (\w+)", b)
        if not m:
            continue
        num, node = int(m.group(1)), m.group(2)
        if node == "Filter" and "element_at(" in b:
            # constraint propagation may clone the predicate onto the
            # build side (higher node number) — the probe-side instance
            # is the lowest-numbered one
            filter_num = num if filter_num is None else min(filter_num, num)
        if node == "Exchange" and "hashpartitioning(l_orderkey" in b:
            exchange_num = num
    assert filter_num is not None, "bloom membership Filter not in plan"
    assert exchange_num is not None, "probe-side Exchange not in plan"
    assert filter_num < exchange_num, (
        "bloom membership Filter must be upstream of the probe-side "
        "Exchange (prune-before-shuffle)"
    )


def test_join_skew_advisor_topk_not_global_window(spark):
    """join_skew_advisor's top-15 must come from a
    TakeOrderedAndProject (per-partition top-k, 15-row merge), with the
    rank window running only over those 15 survivors — never a
    no-partition row_number over the full distinct-key frame, which at
    100 TB serializes O(|orders|) keys through one task.  In explain
    output children print below parents, so the TakeOrderedAndProject
    must appear below (after) the Window line."""
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["join_skew_advisor"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, "top-15 must be limit-based"
    tree = plan.split("(1)")[0]
    win_line = next(
        i for i, l in enumerate(tree.splitlines()) if "Window" in l
    )
    take_line = next(
        i
        for i, l in enumerate(tree.splitlines())
        if "TakeOrderedAndProject" in l
    )
    assert win_line < take_line, (
        "rank window must sit above the TakeOrderedAndProject "
        "(i.e. rank the 15 survivors, not the full key domain)"
    )
