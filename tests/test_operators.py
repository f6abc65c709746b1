"""Per-operator unit tests on tiny literal frames (SURVEY.md §5.3),
covering the §2.4 quirk decisions: null environments, tie-breaking,
empty inputs."""

from datetime import datetime

from pyspark.sql import functions as F

from elastic_asset_etl_poc_spark.functions.scalar import find_parent, make_ean
from elastic_asset_etl_poc_spark.operators.dedup import collapse_top1, dedup_latest
from elastic_asset_etl_poc_spark.operators.filters import (
    exists_all,
    exists_any,
    term,
    terms,
    time_window,
)
from elastic_asset_etl_poc_spark.operators.graph import group_collect_edges
from elastic_asset_etl_poc_spark.operators.joins import semi_join_in_list
from elastic_asset_etl_poc_spark.operators.project import (
    array_head,
    project_rename,
    wildcard_select,
)


def ts(day, hour=0):
    return datetime(2024, 1, day, hour)


def test_time_window_bounds(spark):
    df = spark.createDataFrame(
        [(1, ts(1)), (2, ts(10)), (3, ts(20)), (4, ts(31))], "id long, t timestamp"
    )
    out = time_window(df, "t", datetime(2024, 1, 21), 15, "d")
    assert sorted(r.id for r in out.collect()) == [2, 3]  # 4 is past now, 1 too old


def test_term_terms(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, k string")
    assert term(df, "k", "b").count() == 1
    assert sorted(r.id for r in terms(df, "k", ["a", "c"]).collect()) == [1, 3]


def test_exists_any_all(spark):
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, None), (3, "x", "y")],
        "id long, a string, b string",
    )
    assert sorted(r.id for r in exists_any(df, "a", "b").collect()) == [1, 3]
    assert [r.id for r in exists_all(df, "a", "b").collect()] == [3]


def test_dedup_latest_last_wins_and_null_env(spark):
    # Q2 decision: null environment groups as a value instead of crashing.
    df = spark.createDataFrame(
        [
            ("svc", "prod", ts(1)),
            ("svc", "prod", ts(5)),
            ("svc", None, ts(3)),
            ("svc", None, ts(2)),
        ],
        "name string, env string, t timestamp",
    )
    out = {(r.name, r.env): r.t for r in dedup_latest(df, ["name", "env"], "t").collect()}
    assert out[("svc", "prod")] == ts(5)  # max timestamp survives (A1)
    assert out[("svc", None)] == ts(3)
    assert len(out) == 2


def test_collapse_top1_tiebreak(spark):
    df = spark.createDataFrame(
        [("k", ts(5), 1), ("k", ts(5), 2), ("k", ts(4), 9)],
        "key string, t timestamp, id long",
    )
    row = collapse_top1(df, "key", "t", tiebreak="id").collect()[0]
    assert row.id == 2  # same ts -> higher id wins deterministically


def test_collapse_top1_empty(spark):
    df = spark.createDataFrame([], "key string, t timestamp, id long")
    assert collapse_top1(df, "key", "t", tiebreak="id").count() == 0


def test_semi_join_keeps_probe_shape(spark):
    probe = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "z")], "id long, name string"
    )
    build = spark.createDataFrame([("a",), ("b",), ("b",)], "name string")
    out = semi_join_in_list(probe, build, "name")
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]
    assert out.columns == ["id", "name"]  # no build-side columns leak


def test_group_collect_edges_distinct_sorted(spark):
    df = spark.createDataFrame(
        [("c1", "s2"), ("c1", "s1"), ("c1", "s2"), ("c2", "s3")],
        "owner string, child string",
    )
    out = {
        r.owner: r.children
        for r in group_collect_edges(df, ["owner"], {"children": "child"}).collect()
    }
    assert out == {"c1": ["s1", "s2"], "c2": ["s3"]}


def test_find_parent_cascade_priority(spark):
    df = spark.createDataFrame(
        [
            (1, "c", "p", "h", "hh"),
            (2, None, "p", "h", "hh"),
            (3, None, None, "h", "hh"),
            (4, None, None, None, "hh"),
            (5, None, None, None, None),
        ],
        "id long, `container.id` string, `kubernetes.pod.uid` string, "
        "`host.name` string, `host.hostname` string",
    )
    parent = find_parent()
    rows = {
        r.id: (r.pt, r.pe)
        for r in df.select(
            "id",
            parent.getField("parent_type").alias("pt"),
            parent.getField("parent_ean").alias("pe"),
        ).collect()
    }
    assert rows[1] == ("container", "container:c")
    assert rows[2] == ("k8s.pod", "k8s.pod:p")
    assert rows[3] == ("host", "host:h")
    assert rows[4] == ("host", "host:hh")
    assert rows[5] == ("unknown", "unknown:")


def test_make_ean(spark):
    df = spark.createDataFrame([("x",)], "id string")
    assert df.select(make_ean("service", F.col("id")).alias("e")).collect()[0].e == "service:x"


def test_make_ean_null_propagates(spark):
    # SQL || semantics: NULL id -> NULL ean, never a bare "service"
    df = spark.createDataFrame([(None,)], "id string")
    assert df.select(make_ean("service", F.col("id")).alias("e")).collect()[0].e is None


def test_project_rename_and_wildcard(spark):
    df = spark.createDataFrame(
        [(1, "a", "b")], "id long, `host.name` string, `host.hostname` string"
    )
    out = project_rename(df, {"host.name": "hn", "id": "i"})
    assert out.columns == ["hn", "i"]
    w = wildcard_select(df, "host.*", extra=["id"])
    assert w.columns == ["id", "host.name", "host.hostname"]


def test_array_head_null_safe(spark):
    df = spark.createDataFrame([([1, 2],), ([],), (None,)], "a array<int>")
    vals = [r.v for r in df.select(array_head("a").alias("v")).collect()]
    assert vals == [1, None, None]


def test_asof_join_semantics(spark):
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", ts(10)), (2, "k", ts(20)), (3, "q", ts(5))],
        "id long, k string, t timestamp",
    ).withColumnRenamed("k", "key")
    right = spark.createDataFrame(
        [("k", ts(10), 1.0), ("k", ts(15), 2.0), ("z", ts(1), 9.0)],
        "key string, t timestamp, v double",
    )
    out = {
        r.id: (r.v_asof, r.t_asof)
        for r in asof_join(
            left, right, on="key", left_ts="t", right_ts="t", payload=["v", "t"]
        ).collect()
    }
    assert out[1] == (1.0, ts(10))  # tie: at-or-before includes same instant
    assert out[2] == (2.0, ts(15))  # latest prior wins
    assert out[3] == (None, None)  # no matching key/time -> NULL payload


def test_asof_join_directions_and_tolerance(spark):
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", ts(10))], "id long, key string, t timestamp"
    )
    right = spark.createDataFrame(
        [("k", ts(8), 1.0), ("k", ts(11), 2.0)],
        "key string, t timestamp, v double",
    )

    def run(**kw):
        rows = asof_join(
            left, right, on="key", left_ts="t", right_ts="t", payload=["v"], **kw
        ).collect()
        return rows[0].v_asof

    assert run() == 1.0  # backward: latest at-or-before (day 8)
    assert run(direction="forward") == 2.0  # earliest at-or-after (day 11)
    # nearest: day 11 is 1 day away, day 8 is 2 -> forward wins
    assert run(direction="nearest") == 2.0
    # tolerance 1 day: backward match (2 days stale) nulls out
    assert run(tolerance_seconds=86400) is None
    assert run(direction="forward", tolerance_seconds=86400) == 2.0


def test_asof_join_nearest_tie_prefers_backward(spark):
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", ts(10))], "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [("k", ts(8), 1.0), ("k", ts(12), 2.0)],  # both 2 days away
        "key string, t timestamp, v double",
    )
    out = asof_join(
        left, right, on="key", left_ts="t", right_ts="t", payload=["v"],
        direction="nearest",
    ).collect()
    assert out[0].v_asof == 1.0


def test_asof_join_null_payload_does_not_fall_through(spark):
    """A matched right row with a NULL payload must yield NULL — not an
    older row's value (the matched row travels as one struct)."""
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", ts(10))], "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [("k", ts(5), 7.0), ("k", ts(9), None)],
        "key string, t timestamp, v double",
    )
    out = asof_join(
        left, right, on="key", left_ts="t", right_ts="t", payload=["v", "t"]
    ).collect()
    assert out[0].v_asof is None  # the day-9 row matched; its v IS null
    assert out[0].t_asof == ts(9)


def test_band_join_subsecond_precision(spark):
    """The band predicate is exact at microsecond precision: a pair 0.4s
    outside a 2s band is excluded even though whole-second truncation
    would round it in (and vice versa)."""
    from elastic_asset_etl_poc_spark.operators.temporal import band_join

    base = datetime(2024, 1, 1, 12, 0, 0)

    def us(sec, micro):
        return datetime(2024, 1, 1, 12, 0, sec, micro)

    left = spark.createDataFrame([("k", base)], "key string, t timestamp")
    right = spark.createDataFrame(
        [
            ("k", us(2, 0), 1),       # delta exactly 2.0s -> in
            ("k", us(2, 400000), 2),  # delta 2.4s -> out (floor-sec diff = 2 would wrongly admit)
            ("k", us(1, 999999), 3),  # delta 1.999999s -> in
        ],
        "key string, t timestamp, id int",
    )
    out = band_join(left, right, on="key", band_seconds=2, left_ts="t", right_ts="t")
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_interval_join_overlap_exactly_once(spark):
    """Overlapping pairs emit exactly once even when the intervals share
    MANY buckets; touching endpoints (closed intervals) count; disjoint
    intervals and mismatched keys don't; end<start rows are dropped."""
    from elastic_asset_etl_poc_spark.operators.temporal import interval_join

    def t(h, m, s=0):
        return datetime(2024, 1, 1, h, m, s)

    left = spark.createDataFrame(
        [
            ("k", 1, t(10, 0), t(12, 0)),   # long: spans many 10-min buckets
            ("k", 2, t(13, 0), t(13, 5)),
            ("k", 3, t(15, 0), t(14, 0)),   # malformed: end < start
            ("x", 4, t(10, 0), t(12, 0)),   # other key
        ],
        "key string, lid int, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", 10, t(10, 30), t(11, 30)),  # inside lid=1
            ("k", 11, t(12, 0), t(12, 30)),   # touches lid=1 end exactly
            ("k", 12, t(13, 5), t(13, 10)),   # touches lid=2 end exactly
            ("k", 13, t(14, 0), t(14, 10)),   # disjoint from all
            ("y", 14, t(10, 30), t(11, 0)),   # other key
        ],
        "key string, rid int, start timestamp, end timestamp",
    )
    out = interval_join(left, right, on="key", bucket_seconds=600)
    pairs = sorted((r["lid"], r["rid_r"]) for r in out.collect())
    assert pairs == [(1, 10), (1, 11), (2, 12)]
    # and exactly once: no duplicate pair rows from shared buckets
    assert out.count() == 3


def test_interval_join_bucket_width_invariance(spark):
    """The pair set must not depend on the bucket width tuning knob."""
    from elastic_asset_etl_poc_spark.operators.temporal import interval_join

    def t(m):
        return datetime(2024, 1, 1, 12, m)

    left = spark.createDataFrame(
        [("k", i, t(i), t(i + 7)) for i in range(0, 40, 5)],
        "key string, lid int, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        [("k", 100 + i, t(i), t(i + 3)) for i in range(0, 40, 4)],
        "key string, rid int, start timestamp, end timestamp",
    )
    expected = None
    for w in (60, 300, 3600):
        got = sorted(
            (r["lid"], r["rid_r"])
            for r in interval_join(
                left, right, on="key", bucket_seconds=w
            ).collect()
        )
        if expected is None:
            expected = got
        assert got == expected, f"bucket_seconds={w} changed the pair set"
    assert len(expected) > 0


def test_snapshot_diff_changes_and_null_semantics(spark):
    """added/removed/changed classification; NULL→value and value→NULL
    are 'changed', NULL→NULL is unchanged; digest and struct paths
    agree."""
    from elastic_asset_etl_poc_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, None, 3.0), (4, "d", 4.0), (5, None, None)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, None), (5, None, None), (6, "f", 6.0)],
        "k int, s string, v double",
    )
    expected = {
        # 1: identical -> absent; 5: NULL==NULL both cols -> absent
        (2, "changed"),   # v NULL -> 2.0
        (3, "changed"),   # v 3.0 -> NULL
        (4, "removed"),
        (6, "added"),
    }
    got = {
        (r["k"], r["change"])
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    assert got == expected


def test_snapshot_diff_shuffles_digest_not_payload(spark):
    """The full-outer join exchanges only (key, digest):
    the compared payload columns must not appear in the exchange
    schema."""
    from elastic_asset_etl_poc_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "payloadcol")], "k int, big string")
    new = spark.createDataFrame([(1, "payloadcol2")], "k int, big string")
    plan = snapshot_diff(old, new, keys=["k"])._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "big" not in m.group(1)


def test_rollup_gapfill_dense_scaffold_and_locf(spark):
    """Gaps between min and max buckets appear as explicit rows
    (n_events=0, agg NULL) and the LOCF twin carries the last observed
    value across them, per key."""
    from elastic_asset_etl_poc_spark.operators.temporal import rollup_gapfill

    df = spark.createDataFrame(
        [
            ("a", ts(1, 0), 10.0),
            ("a", ts(1, 0), 5.0),   # same bucket, aggregates
            ("a", ts(1, 3), 2.0),   # hours 1 and 2 are gaps
            ("b", ts(1, 1), 7.0),
        ],
        "key string, t timestamp, v double",
    )
    out = rollup_gapfill(
        df,
        key="key",
        ts="t",
        bucket="hour",
        aggs={"n_events": F.count("*"), "sum_v": F.sum("v")},
        locf=["sum_v"],
    )
    rows = {
        (r.key, r.bucket_ts.hour): (r.n_events, r.sum_v, r.sum_v_locf)
        for r in out.collect()
    }
    # scaffold is the GLOBAL bucket range × every key: 4 hours × 2 keys
    assert len(rows) == 8
    assert rows[("a", 0)] == (2, 15.0, 15.0)
    assert rows[("a", 1)] == (0, None, 15.0)  # gap: explicit, LOCF carries
    assert rows[("a", 2)] == (0, None, 15.0)
    assert rows[("a", 3)] == (1, 2.0, 2.0)
    assert rows[("b", 0)] == (0, None, None)  # before first observation
    assert rows[("b", 1)] == (1, 7.0, 7.0)
    assert rows[("b", 3)] == (0, None, 7.0)


def test_fk_orphan_audit_counts(spark):
    from elastic_asset_etl_poc_spark.operators.joins import fk_orphan_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = fk_orphan_audit(child, "fk", parent, "pk", "c->p").collect()[0]
    assert (row.relation, row.n_rows, row.n_null_fk, row.n_orphans) == (
        "c->p",
        5,
        1,
        1,
    )


def test_zorder_key_hand_computed_and_quadrants(spark):
    import pytest
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.functions.scalar import zorder_key

    df = spark.createDataFrame(
        [(3, 5), (7, 7), (8, 8)], "x long, y long"
    )
    out = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
        ).collect()
    }
    # interleave(3,5): x bits at even positions, y at odd -> 0b100111 = 39
    assert out[(3, 5)] == 39
    # quadrant separation: everything below (8,8) sorts before (8,8)
    assert out[(7, 7)] == 63 and out[(8, 8)] == 192
    with pytest.raises(ValueError):
        zorder_key([], bits=4)
    with pytest.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=40)


def test_profile_columns_nulls_and_approx(spark):
    from elastic_asset_etl_poc_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "k long, s string"
    )
    rows = {r.col_name: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert (rows["k"].n_nonnull, rows["k"].n_distinct) == (3, 2)
    assert (rows["k"].min_s, rows["k"].max_s) == ("1", "2")
    assert (rows["s"].n_nonnull, rows["s"].n_distinct) == (3, 2)
    assert (rows["s"].min_s, rows["s"].max_s) == ("a", "b")


def test_scd2_history_islands_and_open_row(spark):
    import datetime as dt

    from elastic_asset_etl_poc_spark.operators.temporal import scd2_history

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (7, "a", t(0), 1),
        (7, "a", t(1), 2),   # same value: same island
        (7, "b", t(2), 3),   # change
        (7, "a", t(3), 4),   # back to a: NEW island, not merged with the first
        (9, "x", t(0), 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    out = scd2_history(df, key="user_id", attr="event_type", tiebreak="event_id")
    got = sorted(
        (r.user_id, r.value, r.valid_from.minute,
         None if r.valid_to is None else r.valid_to.minute)
        for r in out.collect()
    )
    assert got == [
        (7, "a", 0, 2),
        (7, "a", 3, None),  # open row
        (7, "b", 2, 3),
        (9, "x", 0, None),
    ]


def test_scd2_history_null_values_distinct_from(spark):
    """NULL attribute values follow IS DISTINCT FROM semantics (matching
    the SQL oracle): non-NULL→NULL opens a new island, NULL→NULL
    continues it, NULL→non-NULL opens again.  Plain `!=` is NULL (falsy)
    against a NULL side and would never open an island on NULL."""
    import datetime as dt

    from elastic_asset_etl_poc_spark.operators.temporal import scd2_history

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, "a", t(0), 1),
        (1, None, t(1), 2),  # a → NULL: new island
        (1, None, t(2), 3),  # NULL → NULL: same island
        (1, "a", t(3), 4),   # NULL → a: new island
        (2, None, t(0), 5),  # leading NULL run
        (2, None, t(1), 6),
        (2, "z", t(2), 7),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    out = scd2_history(df, key="user_id", attr="event_type", tiebreak="event_id")
    got = sorted(
        (
            (r.user_id, r.value, r.valid_from.minute,
             None if r.valid_to is None else r.valid_to.minute)
            for r in out.collect()
        ),
        key=lambda x: (x[0], x[2]),
    )
    assert got == [
        (1, "a", 0, 1),
        (1, None, 1, 3),
        (1, "a", 3, None),
        (2, None, 0, 2),
        (2, "z", 2, None),
    ]


def test_asof_join_salted_equals_plain(spark):
    """Differential: the two-level time-bucket-salted backward as-of must
    equal asof_join(direction='backward') — including a hot key whose
    history spans many buckets, buckets containing only lefts (carry
    must cross right-less buckets), keys with no rights at all, and a
    NULL payload that must not fall through to an older right."""
    import datetime as dt
    import random

    from elastic_asset_etl_poc_spark.operators.temporal import (
        asof_join,
        asof_join_salted,
    )

    rng = random.Random(0x5A17)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hot key 1: 300 events over 30 days; cold keys 2-5: a handful each;
    # key 6: lefts only (never any right)
    for key, n in [(1, 300), (2, 8), (3, 8), (4, 8), (5, 8), (6, 6)]:
        for _ in range(n):
            eid += 1
            ts = t0 + dt.timedelta(seconds=rng.randrange(0, 30 * 86400))
            is_right = key != 6 and rng.random() < 0.4
            val = None if (is_right and rng.random() < 0.2) else rng.random()
            rows.append((eid, key, ts, "r" if is_right else "l", val))
    df = spark.createDataFrame(
        rows, "event_id long, k long, ts timestamp, side string, value double"
    )
    lefts = df.filter("side = 'l'").select("event_id", "k", "ts")
    rights = df.filter("side = 'r'").select("k", "ts", "value")

    def collect(out):
        return sorted(
            (r.event_id, r.ts_x, r.value_x) for r in out.collect()
        )

    for tol in (None, 86400.0):
        plain = asof_join(
            lefts, rights, on="k", payload=["ts", "value"], suffix="_x",
            tolerance_seconds=tol,
        )
        salted = asof_join_salted(
            lefts, rights, on="k", bucket_seconds=2 * 86400,
            payload=["ts", "value"], suffix="_x", tolerance_seconds=tol,
        )
        assert collect(salted) == collect(plain), f"tol={tol}"


def test_funnel_strict_order_hand_computed(spark):
    from datetime import datetime

    from elastic_asset_etl_poc_spark.operators.temporal import funnel

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 completes A -> B -> C in order
        (1, T(1), "A"), (1, T(2), "B"), (1, T(3), "C"),
        # u2: B before A -> only reaches A (the later B is gone)
        (2, T(1), "B"), (2, T(2), "A"),
        # u3: A then C (no B) -> stage 1 only
        (3, T(1), "A"), (3, T(5), "C"),
        # u4: simultaneous A and B -> strict ordering rejects the B
        (4, T(1), "A"), (4, T(1), "B"),
        # u5: never enters
        (5, T(1), "C"),
        # u6: A, B, then B again, then C -> completes
        (6, T(1), "A"), (6, T(2), "B"), (6, T(3), "B"), (6, T(4), "C"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.step_idx: r for r in funnel(df, ["A", "B", "C"]).collect()}
    assert [out[i].step for i in (1, 2, 3)] == ["A", "B", "C"]
    assert out[1].n_users == 5  # u1, u2, u3, u4, u6 all have an A
    assert out[2].n_users == 2  # u1, u6: B strictly after A
    assert out[3].n_users == 2 and out[3].pct == 40.0


def test_pagerank_star_graph_hand_computed(spark):
    from elastic_asset_etl_poc_spark.operators.graph import pagerank

    # undirected star: hub h <-> leaves a,b,c (symmetrized edges)
    edges = [("h", x) for x in "abc"] + [(x, "h") for x in "abc"]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.rank_scaled for r in pagerank(df, iters=40).collect()}
    # closed form at convergence (n=4, d=0.85): hub = (1+3d)/(n(1+d)),
    # leaf = (1+d)/(n(1+d)); scaled by n.  Power iteration converges as
    # d^k: 0.85^40 ~ 1.5e-3, so tolerance sits just above that envelope.
    hub = (1 + 3 * 0.85) / (1 + 0.85)
    leaf = (4 - hub) / 3  # mass conservation over the 3 leaves
    assert abs(out["h"] - hub) < 5e-3
    for x in "abc":
        assert abs(out[x] - leaf) < 5e-3
    # total rank mass is conserved EXACTLY each round (teleport + d*total)
    assert abs(sum(out.values()) - 4.0) < 1e-6


def test_winsorize_hand_computed_and_nulls(spark):
    """p05/p95 clamp on a known distribution; NULLs pass through with
    NULL flags and never shift the percentile ranks; exact and approx
    paths agree on a smooth distribution."""
    from elastic_asset_etl_poc_spark.operators.profile import winsorize

    rows = [("a", float(i)) for i in range(1, 101)] + [("a", None)] * 5
    rows += [("b", 10.0), ("b", 20.0), ("b", 30.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = winsorize(df, "v", keys=["k"], lo=0.05, hi=0.95)
    a = {r["v"]: r for r in out.filter("k = 'a'").collect() if r["v"] is not None}
    # n=100: lo rank ceil(5.000...)=5 -> 5.0, hi rank ceil(95.0...)=95 -> 95.0
    assert a[1.0]["v_w"] == 5.0 and a[1.0]["clamped_lo"] is True
    assert a[5.0]["v_w"] == 5.0 and a[5.0]["clamped_lo"] is False
    assert a[50.0]["v_w"] == 50.0
    assert a[95.0]["v_w"] == 95.0 and a[95.0]["clamped_hi"] is False
    assert a[100.0]["v_w"] == 95.0 and a[100.0]["clamped_hi"] is True
    nulls = out.filter("k = 'a' AND v IS NULL").collect()
    assert len(nulls) == 5
    assert all(r["v_w"] is None and r["clamped_lo"] is None for r in nulls)
    # n=3: lo rank ceil(0.15)=1 -> 10.0, hi rank ceil(2.85)=3 -> 30.0
    b = {r["v"]: r["v_w"] for r in out.filter("k = 'b'").collect()}
    assert b == {10.0: 10.0, 20.0: 20.0, 30.0: 30.0}


def test_winsorize_single_exchange(spark):
    """The rank window and the bounds aggregate must share one hash
    partitioning on the group key: exactly one exchange on k."""
    from elastic_asset_etl_poc_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(50)], "k string, v double"
    )
    plan = (
        winsorize(df, "v", keys=["k"])._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning(k") <= 1


def test_triangle_count_hand_computed(spark):
    """4-clique = 4 triangles (3 per node); star = 0; orientation and
    input edge order/duplication must not change counts."""
    from elastic_asset_etl_poc_spark.operators.graph import triangle_count

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    star = [(10, x) for x in (11, 12, 13, 14)]
    # add reversed duplicates and a self-loop: must all be canonicalized
    edges = clique + star + [(b, a) for a, b in clique[:3]] + [(2, 2)]
    df = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_two_shared_triangles(spark):
    """Two triangles sharing an edge: shared nodes count 2, wing nodes 1."""
    from elastic_asset_etl_poc_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "doc_a int, doc_b int"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_rolling_ewma_hand_computed(spark):
    """Truncated-renormalized EWMA: first rows renormalize over existing
    lags; NULL current value propagates; keys are isolated."""
    from elastic_asset_etl_poc_spark.operators.temporal import rolling_ewma

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, None), ("a", 4, 40.0),
        ("b", 1, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = {
        (r["k"], r["i"]): r["ewma"]
        for r in rolling_ewma(
            df, "v", keys=["k"], order_by=["i"], alpha=0.5, k=3
        ).collect()
    }
    assert abs(out[("a", 1)] - 10.0) < 1e-12                      # only itself
    assert abs(out[("a", 2)] - (0.5 * 20 + 0.25 * 10) / 0.75) < 1e-12
    assert out[("a", 3)] is None                                  # NULL v propagates
    # row 4: lags are (None at j=1 -> skip, 20.0 at j=2)
    assert abs(out[("a", 4)] - (0.5 * 40 + 0.125 * 20) / 0.625) < 1e-12
    assert abs(out[("b", 1)] - 7.0) < 1e-12


def test_hits_hand_computed_two_rounds(spark):
    """c1->{s1,s2}, c2->{s1}: after 2 L1-normalized rounds the scores
    match the closed-form recurrence; each role sums to 1."""
    from elastic_asset_etl_poc_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s1")], "src string, dst string"
    )
    out = {(r["role"], r["node"]): r["score"] for r in hits(edges, iters=2).collect()}
    # round 1: a=(2/3,1/3) h=(3/5,2/5); round 2: a=(0.625,0.375),
    # h=(1,0.625)/1.625
    assert abs(out[("authority", "s1")] - 0.625) < 1e-9
    assert abs(out[("authority", "s2")] - 0.375) < 1e-9
    assert abs(out[("hub", "c1")] - round(1 / 1.625, 6)) < 1e-9
    assert abs(out[("hub", "c2")] - round(0.625 / 1.625, 6)) < 1e-9
    for role in ("hub", "authority"):
        tot = sum(v for (rl, _), v in out.items() if rl == role)
        assert abs(tot - 1.0) < 1e-4


def test_cube_grouping_distinguishes_null_cell_from_rollup(spark):
    """The grouping()-bit agg_level (cube_status_priority's labeling)
    must tell a GENUINE NULL dimension value apart from a rolled-up
    margin — the distinction NULL-counting cannot make.  Frame: one row
    with status=NULL.  The (NULL, 'HIGH') CELL row has agg_level 0;
    the status-rolled margin for priority='HIGH' has the same visible
    (NULL, 'HIGH') key but agg_level 1 — and both rows EXIST, so a
    NULL-counting labeler would have merged/mislabeled them."""
    df = spark.createDataFrame(
        [(None, "HIGH", 10.0), ("F", "HIGH", 20.0), ("F", "LOW", 5.0)],
        "status string, priority string, price double",
    )
    out = (
        df.cube("status", "priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.grouping("status") + F.grouping("priority"))
            .cast("int")
            .alias("agg_level"),
        )
        .collect()
    )
    by_key = {}
    for r in out:
        by_key.setdefault((r["status"], r["priority"]), []).append(r)
    nh = sorted(
        (r["agg_level"], r["n"]) for r in by_key[(None, "HIGH")]
    )
    # cell (status IS NULL, n=1) vs status-rolled margin (n=2): same
    # visible key, different grouping bits
    assert nh == [(0, 1), (1, 2)]
    # grand total carries both bits
    gt = [r for r in by_key[(None, None)] if r["agg_level"] == 2]
    assert len(gt) == 1 and gt[0]["n"] == 3


def test_canonicalize_url_edge_cases(spark):
    """The canonical form every crawl pipeline needs: case, www, default
    vs explicit ports, tracking-param removal (prefix and exact),
    param sorting, fragment/trailing-slash stripping — and NULL (not a
    crash, not a colliding empty key) for garbage input."""
    from elastic_asset_etl_poc_spark.functions.scalar import canonicalize_url

    cases = {
        "HTTP://WWW.Site3.Example.COM:8080/a/b5/?b=2&utm_source=x&a=1#f":
            "http://site3.example.com:8080/a/b5?a=1&b=2",
        "https://x.com:443/p": "https://x.com/p",
        "http://x.com:80/p/": "http://x.com/p",
        # :443 is only default for https — kept on http
        "http://x.com:443/p": "http://x.com:443/p",
        "https://x.com/p?utm_campaign=z&fbclid=abc": "https://x.com/p",
        # exact-match strip must not swallow prefix lookalikes
        "https://x.com/p?z=1&a=2&fbclid2=keep": "https://x.com/p?a=2&fbclid2=keep&z=1",
        "http://Y.com": "http://y.com/",
        "http://y.com/?": "http://y.com/",
        # path case is preserved (paths are case-sensitive)
        "http://y.com/CaseSensitive": "http://y.com/CaseSensitive",
        "not a url": None,
        None: None,
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {
        r.url: r.c
        for r in df.select(
            "url", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got == cases


def test_bloom_no_false_negatives_and_prunes(spark):
    """Bloom contract: every build key passes the membership test (zero
    false negatives — the property that makes the scrub-join exact), and
    the non-member pass rate stays near the analytic FPP (the property
    that makes the prune worth the broadcast)."""
    from elastic_asset_etl_poc_spark.operators.bloom import (
        bloom_build,
        bloom_densify,
        bloom_might_contain,
        bloom_semi_join,
    )

    members = spark.range(0, 5000).select(F.col("id").alias("k"))
    others = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))
    bf = bloom_densify(bloom_build(members, "k"))
    passed_members = members.filter(
        bloom_might_contain(bf, F.col("k"))
    ).count()
    assert passed_members == 5000  # no false negatives, ever
    fp = others.filter(bloom_might_contain(bf, F.col("k"))).count()
    # analytic FPP for n=5000, m=2^16, k=7 is ~9e-4; allow 5x slack
    assert fp / 50_000 < 0.005, f"false-positive rate too high: {fp}/50000"

    # end-to-end: bloom_semi_join result == plain semi-join result
    exact = members.join(
        others.select(F.col("k").alias("j")).union(
            spark.range(0, 100).select(F.col("id").alias("j"))
        ),
        on=F.col("k") == F.col("j"),
        how="left_semi",
    )
    got = bloom_semi_join(
        members,
        others.select(F.col("k").alias("j")).union(
            spark.range(0, 100).select(F.col("id").alias("j"))
        ),
        probe_key="k",
        build_key="j",
    )
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in exact.collect()
    )


def test_bloom_rejects_overwide_k(spark):
    """Blocked-layout contract: 6-bit slices of h2 run out of honest
    bits at i=10 (sign-extension constants beyond bit 63 would bias the
    mask — FPP collapses while correctness silently holds), so
    _word_and_mask refuses k > 10 instead of degrading.  Callers
    reusing the pre-blocked k=7..12 defaults must hear about it."""
    import pytest

    from elastic_asset_etl_poc_spark.operators.bloom import _word_and_mask

    with pytest.raises(ValueError, match="at most 10"):
        _word_and_mask(F.col("k"), 1 << 16, 11)
    # k=10 is the last honest slice — allowed (bloom_params clamps to 6)
    word, mask = _word_and_mask(F.col("k"), 1 << 16, 10)
    assert word is not None and mask is not None


def test_bloom_literal_fold_fallback_warns(spark, monkeypatch):
    """The broad except in _fold_words_literal is the exact ~30 s
    per-element F.lit(list) cliff the fold exists to avoid — a broken
    JVM path must WARN, never silently degrade (r15 ADVICE)."""
    import warnings

    import elastic_asset_etl_poc_spark.operators.bloom as bloom_mod

    # simulate a gateway-less / broken-JVM-path session
    from pyspark.sql import SparkSession

    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        col = bloom_mod._fold_words_literal([1, 2, 3])
    assert col is not None
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "fell back to per-element" in str(w.message)
        for w in caught
    ), "fallback path must emit a RuntimeWarning"


def test_bloom_empty_build_side(spark):
    """Empty build side → empty bitmap → every probe row fails the
    membership test and the semi-join returns zero rows (not a crash on
    a NULL map and not a pass-everything filter)."""
    from elastic_asset_etl_poc_spark.operators.bloom import (
        bloom_build,
        bloom_densify,
        bloom_might_contain,
        bloom_semi_join,
    )

    probe = spark.range(0, 100).select(F.col("id").alias("k"))
    empty = probe.filter(F.lit(False))
    words = bloom_densify(bloom_build(empty, "k"))
    assert all(w == 0 for w in words)
    assert probe.filter(bloom_might_contain(words, F.col("k"))).count() == 0
    assert bloom_semi_join(probe, empty, probe_key="k").count() == 0


def test_bloom_autosizing_avoids_saturation(spark):
    """The round-10 field lesson: a FIXED default geometry saturates
    when the build side outgrows it (50k keys against 2^16 bits sets
    ~99.9% of the bitmap and the prune passes nearly everything).
    bloom_params sizes m from n, keeping the non-member pass rate near
    the analytic FPP at any build size."""
    from elastic_asset_etl_poc_spark.operators.bloom import (
        DEFAULT_M_BITS,
        bloom_build,
        bloom_densify,
        bloom_might_contain,
        bloom_params,
    )

    members = spark.range(0, 50_000).select(F.col("id").alias("k"))
    others = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))

    # saturated: fixed default geometry (2^17 bits, blocked) — 50 k
    # keys load each word with ~24 keys ⇒ ~57 of 64 bits set ⇒
    # analytic pass rate ~(57/64)^k ≈ 0.5: the prune passes half of
    # everything, the no-op-prune failure mode demonstrated
    sat = bloom_densify(bloom_build(members, "k"))
    sat_fp = others.filter(bloom_might_contain(sat, F.col("k"))).count()
    assert sat_fp > 20_000

    # auto-sized: m grows with n, FPP back under control
    m, kk = bloom_params(50_000)
    assert m >= 50_000 * 10 and 1 <= kk <= 12
    auto = bloom_densify(bloom_build(members, "k", m, kk), m)
    fp = others.filter(bloom_might_contain(auto, F.col("k"), m, kk)).count()
    assert fp / 50_000 < 0.01, f"auto-sized FP rate too high: {fp}/50000"
    # and still zero false negatives
    assert (
        members.filter(bloom_might_contain(auto, F.col("k"), m, kk)).count()
        == 50_000
    )


def test_rendezvous_shard_resize_contract(spark):
    """Rendezvous sharding's reason to exist: on a 10 -> 11 resize,
    every moved key lands on the NEW shard (pmod placement scatters
    movers everywhere), the churn fraction is ~1/11, and occupancy
    stays balanced."""
    from elastic_asset_etl_poc_spark.functions.scalar import rendezvous_shard

    keys = spark.range(0, 20_000).select(
        rendezvous_shard(F.col("id"), 10).alias("s10"),
        rendezvous_shard(F.col("id"), 11).alias("s11"),
    )
    agg = keys.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("s10") != F.col("s11"), 1).otherwise(0)).alias(
            "moved"
        ),
        F.sum(
            F.when(
                (F.col("s10") != F.col("s11")) & (F.col("s11") != 10), 1
            ).otherwise(0)
        ).alias("moved_elsewhere"),
    ).collect()[0]
    assert agg.moved_elsewhere == 0  # movers go ONLY to the new shard
    assert 0.05 < agg.moved / agg.n < 0.14  # ~1/11 expected churn
    counts = [r["count"] for r in keys.groupBy("s10").count().collect()]
    assert len(counts) == 10
    assert max(counts) < 2 * min(counts)  # md5 weights balance the ring
