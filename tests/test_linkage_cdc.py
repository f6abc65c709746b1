"""Edge cases for the round-7 operators: blocked_fuzzy_join, apply_cdc,
seasonal_anomalies, weighted_topk (the verdict's wiring directive)."""

import re

import pytest
from pyspark.sql import functions as F

from elastic_asset_etl_poc_spark.operators.diff import apply_cdc, snapshot_diff
from elastic_asset_etl_poc_spark.operators.linkage import blocked_fuzzy_join
from elastic_asset_etl_poc_spark.operators.profile import seasonal_anomalies
from elastic_asset_etl_poc_spark.operators.sampling import weighted_topk


# ---------------------------------------------------------------------------
# blocked_fuzzy_join
# ---------------------------------------------------------------------------


def _link_frames(spark):
    dirty = spark.createDataFrame(
        [
            ("d1", "blk-a", "kitten"),   # matches c1 (dist 1) and c2 (dist 2)
            ("d2", "blk-a", "zzzzzz"),   # no candidate within radius
            ("d3", None, "kitten"),      # NULL block key: never matches
            ("d4", "blk-b", "mitten"),   # same text, different block
        ],
        "d_id string, blk string, d_name string",
    )
    clean = spark.createDataFrame(
        [
            ("c1", "blk-a", "mitten"),
            ("c2", "blk-a", "bitten"),
            ("c3", "blk-b", "mitten"),
        ],
        "c_id string, blk string, c_name string",
    )
    return dirty, clean


def test_blocked_fuzzy_join_best_match_and_blocking(spark):
    dirty, clean = _link_frames(spark)
    out = blocked_fuzzy_join(
        dirty, clean, ["blk"], "d_name", "c_name", "d_id", "c_id",
        max_dist=2, keep="best",
    )
    rows = {r.d_id: (r.c_id, r.dist) for r in out.collect()}
    # d1: kitten→mitten dist 1 beats kitten→bitten dist 1? both dist 1 —
    # tie breaks on smallest clean id → c1
    assert rows["d1"] == ("c1", 1)
    # d4 matches only within its own block (c3, not c1 which is identical
    # text but another block)
    assert rows["d4"] == ("c3", 0)
    # d2 (out of radius) and d3 (NULL block key) are absent
    assert set(rows) == {"d1", "d4"}


def test_blocked_fuzzy_join_keep_all_returns_radius(spark):
    dirty, clean = _link_frames(spark)
    out = blocked_fuzzy_join(
        dirty, clean, ["blk"], "d_name", "c_name", "d_id", "c_id",
        max_dist=2, keep="all",
    )
    pairs = {(r.d_id, r.c_id) for r in out.collect()}
    assert pairs == {("d1", "c1"), ("d1", "c2"), ("d4", "c3")}


def test_blocked_fuzzy_join_invalid_keep_raises(spark):
    dirty, clean = _link_frames(spark)
    with pytest.raises(ValueError, match="keep"):
        blocked_fuzzy_join(
            dirty, clean, ["blk"], "d_name", "c_name", "d_id", "c_id",
            keep="first",
        )


# ---------------------------------------------------------------------------
# apply_cdc
# ---------------------------------------------------------------------------


def _cdc_frames(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double",
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 1),   # superseded by seq 2
            (2, "b3", 22.0, "U", 2),   # winner for k=2
            (3, "c", 30.0, "D", 1),    # delete k=3
            (4, "d", 40.0, "I", 1),    # insert new key
        ],
        "k int, s string, v double, op string, seq int",
    )
    return base, changes


def test_apply_cdc_upsert_delete_passthrough(spark):
    base, changes = _cdc_frames(spark)
    out = {r.k: (r.s, r.v) for r in apply_cdc(base, changes, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0)}


def test_apply_cdc_roundtrip_with_snapshot_diff(spark):
    """apply_cdc(old, changes_of(old, new)) ≡ new — the operator pair's
    defining identity, on frames with adds, drops, and value changes."""
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, s string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d")], "k int, s string"
    )
    d = snapshot_diff(old, new, keys=["k"])
    iu = (
        d.filter(F.col("change") != "removed")
        .join(new, "k")
        .select("k", "s", F.lit("U").alias("op"), F.lit(1).alias("seq"))
    )
    dels = (
        d.filter(F.col("change") == "removed")
        .join(old, "k")
        .select("k", "s", F.lit("D").alias("op"), F.lit(1).alias("seq"))
    )
    got = sorted(
        (r.k, r.s) for r in apply_cdc(old, iu.unionByName(dels), ["k"]).collect()
    )
    assert got == [(2, "b"), (3, "C"), (4, "d")]


def test_apply_cdc_narrow_change_schema_raises(spark):
    base, _ = _cdc_frames(spark)
    narrow = spark.createDataFrame(
        [(2, 21.0, "U", 1)], "k int, v double, op string, seq int"
    )
    with pytest.raises(ValueError, match="missing.*'s'"):
        apply_cdc(base, narrow, ["k"])


def test_apply_cdc_equal_seq_tie_is_deterministic(spark):
    """Two change rows with the same (key, seq) pick the same winner
    regardless of input partitioning — the xxhash64 row-digest tiebreak."""
    base = spark.createDataFrame([(1, "a")], "k int, s string")
    rows = [(1, "x", "U", 1), (1, "y", "U", 1)]
    winners = set()
    for nparts in (1, 2, 7):
        changes = spark.createDataFrame(
            rows, "k int, s string, op string, seq int"
        ).repartition(nparts)
        winners.add(apply_cdc(base, changes, ["k"]).collect()[0].s)
    assert len(winners) == 1


def test_apply_cdc_no_broadcast_fallback_matches(spark):
    """The base is never shuffled: superseded rows leave through a
    broadcast anti-join on the change keys, whose lazily checkpointed
    frame the planner alone would not broadcast.  The compaction's
    window shuffle sits behind that checkpoint, so any hash exchange
    left in the plan would be one over the base."""
    base, changes = _cdc_frames(spark)
    plan = (
        apply_cdc(base, changes, ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"BroadcastHashJoin.*LeftAnti", plan)) == 1
    assert "Exchange hashpartitioning" not in plan


# ---------------------------------------------------------------------------
# seasonal_anomalies
# ---------------------------------------------------------------------------


def _seasonal_events(spark):
    # 10 days × hour 3: one event/day baseline, except day 5 has 30 —
    # a clear off-peak spike; hour 9 is flat everywhere
    rows = []
    for day in range(1, 11):
        rows.append((f"2024-01-{day:02d} 03:00:00", "click"))
        rows.append((f"2024-01-{day:02d} 09:00:00", "click"))
    rows += [("2024-01-05 03:30:00", "click")] * 29
    return spark.createDataFrame(rows, "ts_s string, event_type string").select(
        F.to_timestamp("ts_s").alias("ts"), "event_type"
    )


def test_seasonal_anomalies_flags_offpeak_spike(spark):
    out = seasonal_anomalies(_seasonal_events(spark), z_threshold=2.0).collect()
    assert [(r.hour, str(r.day), r.n) for r in out] == [(3, "2024-01-05", 30)]
    assert out[0].z > 2.0


def test_seasonal_anomalies_single_day_key_no_baseline(spark):
    # one observation per (key, hour) → stddev_samp is NULL → no flags,
    # no divide-by-zero
    df = spark.createDataFrame(
        [("2024-01-01 03:00:00", "solo")], "ts_s string, event_type string"
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type")
    assert seasonal_anomalies(df).count() == 0


def test_seasonal_anomalies_broadcast_flag_controls_plan(spark):
    """The baseline join's strategy is the planner's: with the session's
    broadcast threshold the executed plan broadcasts (AQE sizes the
    shuffled aggregates at runtime); with the threshold at -1 — the
    setting for per-user baselines too big to broadcast — it has no
    broadcast."""
    df = _seasonal_events(spark)

    def final_plan():
        out = seasonal_anomalies(df)
        assert [(r.hour, r.n) for r in out.collect()] == [(3, 30)]
        return out._jdf.queryExecution().executedPlan().toString()

    p_on = final_plan()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_off = final_plan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" in p_on
    assert "BroadcastExchange" not in p_off


# ---------------------------------------------------------------------------
# weighted_topk
# ---------------------------------------------------------------------------


def _weighted_docs(spark, n=40):
    return spark.createDataFrame(
        [(f"doc-{i:03d}", float(i % 7)) for i in range(n)],
        "doc_id string, w double",
    )


def test_weighted_topk_excludes_nonpositive_and_null_weights(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", -2.0), ("d", None), ("e", 5.0)],
        "doc_id string, w double",
    )
    got = {r.doc_id for r in weighted_topk(df, k=10, weight_col="w").collect()}
    assert got == {"a", "e"}


def test_weighted_topk_exact_k_and_dense_ranks(spark):
    out = weighted_topk(_weighted_docs(spark), k=10, weight_col="w").collect()
    assert len(out) == 10
    assert sorted(r.sample_rank for r in out) == list(range(1, 11))


def test_weighted_topk_k_larger_than_n(spark):
    df = _weighted_docs(spark, n=5)  # doc-000 has w=0 → excluded
    out = weighted_topk(df, k=100, weight_col="w").collect()
    assert len(out) == 4


def test_weighted_topk_deterministic_under_repartition(spark):
    df = _weighted_docs(spark)
    a = [
        (r.doc_id, r.sample_rank)
        for r in weighted_topk(df, k=15, weight_col="w")
        .orderBy("sample_rank").collect()
    ]
    b = [
        (r.doc_id, r.sample_rank)
        for r in weighted_topk(df.repartition(13), k=15, weight_col="w")
        .orderBy("sample_rank").collect()
    ]
    assert a == b


def test_weighted_topk_no_global_sort_shuffle(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject, not a
    rangepartitioning exchange over the corpus."""
    plan = (
        weighted_topk(_weighted_docs(spark), k=10, weight_col="w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"Exchange rangepartitioning", plan)


# ---------------------------------------------------------------------------
# incremental_rollup
# ---------------------------------------------------------------------------


def _rollup_frames(spark):
    new_base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("c", 5.0), ("d", 7.0)],
        "g string, v double",
    )
    # old rollup: 'a' stale (will recompute), 'b' vanished, 'z' untouched
    # with a deliberately WRONG total — proving untouched groups pass
    # through rather than recompute
    old_rollup = spark.createDataFrame(
        [("a", 9, 999.0), ("b", 2, 20.0), ("z", 1, 123.0)],
        "g string, n_rows int, total double",
    )
    touched = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "g string"
    )
    return new_base, old_rollup, touched


def test_incremental_rollup_recompute_vanish_append_passthrough(spark):
    from elastic_asset_etl_poc_spark.operators.diff import incremental_rollup

    new_base, old_rollup, touched = _rollup_frames(spark)
    out = {
        r.g: (r.n_rows, r.total)
        for r in incremental_rollup(
            new_base, old_rollup, touched, ["g"], "v"
        ).collect()
    }
    assert out == {
        "a": (2, 3.0),    # touched: recomputed from new_base
        "c": (1, 5.0),    # touched new group appears
        "d": (1, 7.0),
        "z": (1, 123.0),  # untouched: old value passes through verbatim
    }  # 'b' vanished: touched but no rows in new_base


def test_incremental_rollup_broadcast_flag_and_plan(spark):
    import re

    from elastic_asset_etl_poc_spark.operators.diff import incremental_rollup

    new_base, old_rollup, touched = _rollup_frames(spark)
    plan_b = (
        incremental_rollup(new_base, old_rollup, touched, ["g"], "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both prunes ride the broadcast: anti (old rollup) + semi (new base)
    assert len(re.findall(r"BroadcastHashJoin.*LeftAnti", plan_b)) == 1
    assert len(re.findall(r"BroadcastHashJoin.*LeftSemi", plan_b)) == 1


def test_entity_resolution_transitive_closure(spark):
    """Fuzzy edges + connected components = entity resolution with
    TRANSITIVE closure: dirty variants a and b each within radius of
    clean c (but a<->b beyond it) still land in ONE cluster; an
    unrelated record stays a singleton survivor.  Checked on both
    dedup_survivors paths (driver union-find and distributed label
    propagation) — same composition the entity_clusters_parts suite
    query runs over parts."""
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    dirty = spark.createDataFrame(
        [("d:1", "b1", "kitzzn"), ("d:2", "b1", "kittzz"),
         ("d:9", "b1", "zzzzzz")],
        "rid string, blk string, name string",
    )
    clean = spark.createDataFrame(
        [("c:1", "b1", "kitten"), ("c:8", "b1", "walrus")],
        "crid string, blk string, cname string",
    )
    edges = blocked_fuzzy_join(
        dirty, clean, ["blk"], "name", "cname", "rid", "crid",
        max_dist=2, keep="all",
    )
    # d:1<->d:2 is 4 edits apart - only linked through c:1
    recs = dirty.select("rid").unionByName(
        clean.select(F.col("crid").alias("rid"))
    )
    for limit in (1_000_000, 0):  # driver fast path, distributed path
        out = {
            r.rid: (r.cluster, r.is_survivor)
            for r in dedup_survivors(
                recs, edges.select("rid", "crid"), id_col="rid",
                driver_limit=limit,
            ).collect()
        }
        assert out == {
            "c:1": ("c:1", True),
            "d:1": ("c:1", False),
            "d:2": ("c:1", False),
            "c:8": ("c:8", True),
            "d:9": ("d:9", True),
        }, f"driver_limit={limit}"
