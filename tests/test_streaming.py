"""Streaming tests: availableNow micro-batch runs over a staged copy of
the events fixture, checked against the equivalent batch plan."""

import shutil

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from elastic_asset_etl_poc_spark.sources.signals import (
    SERVICE_SUMMARY_EVENT,
    signals_view,
)
from elastic_asset_etl_poc_spark.streaming import (
    run_to_memory,
    stream_services_phase1,
    stream_windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_phase1_matches_batch(spark, events_dir):
    q = run_to_memory(
        stream_services_phase1(spark, events_dir), "svc_stream", "complete"
    )
    try:
        got = {
            (r.name, r.environment): r.last_seen
            for r in spark.sql("SELECT * FROM svc_stream").collect()
        }
    finally:
        q.stop()
    batch = (
        signals_view(spark, SF_DIR)
        .filter(F.col("`metricset.name`") == SERVICE_SUMMARY_EVENT)
        .groupBy(
            F.col("`service.name`").alias("name"),
            F.col("`service.environment`").alias("environment"),
        )
        .agg(F.max("`@timestamp`").alias("last_seen"))
    )
    want = {(r.name, r.environment): r.last_seen for r in batch.collect()}
    assert got == want


def test_stream_windowed_counts_total(spark, events_dir):
    q = run_to_memory(
        stream_windowed_counts(spark, events_dir), "win_stream", "complete"
    )
    try:
        rows = spark.sql("SELECT * FROM win_stream").collect()
    finally:
        q.stop()
    assert sum(r.n for r in rows) == 1000  # every event lands in one window
    assert {r.metricset_name for r in rows} == {
        "click", "view", "error", "purchase", "signup",
    }


def test_stream_phase2_matches_batch(spark, events_dir):
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.plans.services import (
        batch_search_for_services,
    )
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        stream_service_parents,
    )

    services = batch_search_for_services(spark, SF_DIR)
    q = run_to_memory(
        stream_service_parents(spark, events_dir, services), "p2_stream", "append"
    )
    try:
        got = spark.sql("SELECT count(*) c FROM p2_stream").collect()[0].c
        unknowns = spark.sql(
            "SELECT count(*) c FROM p2_stream WHERE parent_type = 'unknown'"
        ).collect()[0].c
    finally:
        q.stop()
    # batch phase 2 without the time window = stream over full history
    from elastic_asset_etl_poc_spark.sources.signals import signals_view
    from elastic_asset_etl_poc_spark.operators.joins import semi_join_in_list

    sig = signals_view(spark, SF_DIR)
    sig = semi_join_in_list(sig, services, "service.name", "name")
    want = sig.filter(
        F.col("`container.id`").isNotNull()
        | F.col("`kubernetes.pod.uid`").isNotNull()
        | F.col("`host.name`").isNotNull()
        | F.col("`host.hostname`").isNotNull()
    ).count()
    assert got == want
    assert unknowns == 0


def test_stream_band_join_matches_batch(spark, events_dir):
    """Stream-stream interval join == batch band_join on the same data."""
    from elastic_asset_etl_poc_spark.operators.temporal import band_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table
    from elastic_asset_etl_poc_spark.streaming.joins import stream_band_join
    from elastic_asset_etl_poc_spark.streaming.services_stream import run_to_memory

    q = run_to_memory(
        stream_band_join(spark, events_dir, band_seconds=86400),
        "band_stream",
        "append",
    )
    try:
        got = {
            r.user_id: r.n
            for r in spark.sql(
                "SELECT user_id, count(*) AS n FROM band_stream GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    batch = {
        r.user_id: r.n
        for r in band_join(clicks, purchases, on="user_id", band_seconds=86400)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_asof_enrich_matches_batch(spark, events_dir):
    """Continuous as-of == batch asof_join when everything fits one
    availableNow run (the retroactivity caveat can't bite)."""
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table
    from elastic_asset_etl_poc_spark.streaming.joins import stream_events_typed
    from elastic_asset_etl_poc_spark.streaming.services_stream import run_to_memory
    from elastic_asset_etl_poc_spark.streaming.stateful import stream_asof_enrich

    q = run_to_memory(
        stream_asof_enrich(stream_events_typed(spark, events_dir)),
        "asof_stream",
        "update",
    )
    try:
        got = {
            r.event_id: (r.right_ts_asof, r.right_value_asof)
            for r in spark.sql("SELECT * FROM asof_stream").collect()
        }
    finally:
        q.stop()

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    batch = {
        r.event_id: (r.ts_x, r.value_x)
        for r in asof_join(
            clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x"
        ).collect()
    }
    assert got == batch


def test_stream_asof_enrich_multi_chunk_groups(spark, events_dir):
    """Groups larger than one Arrow chunk must still process in time
    order (chunk boundaries are arbitrary; a per-chunk sort would enrich
    lefts with future rights)."""
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join
    from elastic_asset_etl_poc_spark.sources.registry import load_table
    from elastic_asset_etl_poc_spark.streaming.joins import stream_events_typed
    from elastic_asset_etl_poc_spark.streaming.services_stream import run_to_memory
    from elastic_asset_etl_poc_spark.streaming.stateful import stream_asof_enrich

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = run_to_memory(
            stream_asof_enrich(stream_events_typed(spark, events_dir)),
            "asof_stream_chunked",
            "update",
        )
        try:
            got = {
                r.event_id: (r.right_ts_asof, r.right_value_asof)
                for r in spark.sql("SELECT * FROM asof_stream_chunked").collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    batch = {
        r.event_id: (r.ts_x, r.value_x)
        for r in asof_join(
            clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x"
        ).collect()
    }
    assert got == batch


def test_stream_asof_enrich_multi_batch_out_of_order(spark, tmp_path):
    """≥3 micro-batches with out-of-order RIGHT rows across batch
    boundaries: a late right must not regress the carried state (a left
    after the carried ts keeps the newer packet) while still enriching
    in-batch lefts in its correct timeline slot.  Result must equal the
    batch asof_join over the full history, which is exactly what a
    1-file-per-trigger replay of in-order-per-batch lefts guarantees."""
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.operators.temporal import asof_join
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA_NS,
        run_to_memory,
    )
    from elastic_asset_etl_poc_spark.streaming.stateful import stream_asof_enrich

    H = 3_600_000_000_000  # 1h in ns
    base = 1_700_000_000_000_000_000  # epoch ns

    def rows(batch):
        return [
            (eid, base + h * H, uid, etype, val, None)
            for (eid, h, uid, etype, val) in batch
        ]

    # batch 1: purchase @t=10h, clicks @12h;  batch 2: LATE purchase @t=2h
    # (older than carried state 10h) plus clicks @1h (before the late
    # right), @5h (between late right and carried state) and @13h (after
    # carried state — must keep 10h, the regression case); batch 3: fresh
    # purchase @20h then click @21h.
    batches = [
        rows([(1, 10, 7, "purchase", 10.0, None)[:5], (2, 12, 7, "click", 1.0, None)[:5]]),
        rows([(3, 2, 7, "purchase", 2.0, None)[:5], (4, 1, 7, "click", 1.0, None)[:5],
              (5, 5, 7, "click", 1.0, None)[:5], (6, 13, 7, "click", 1.0, None)[:5]]),
        rows([(7, 20, 7, "purchase", 20.0, None)[:5], (8, 21, 7, "click", 1.0, None)[:5]]),
    ]
    src = str(tmp_path / "asof_multi_batch")
    for i, b in enumerate(batches):
        spark.createDataFrame(b, EVENTS_STREAM_SCHEMA_NS).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
        # one file per batch dir write; rename below keeps 3 files total
    ev = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_NS)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
    )
    q = run_to_memory(stream_asof_enrich(ev), "asof_multi", "update")
    try:
        n_batches = len(q.recentProgress)
        got = {
            r.event_id: (r.right_ts_asof, r.right_value_asof)
            for r in spark.sql("SELECT * FROM asof_multi").collect()
        }
    finally:
        q.stop()
    assert n_batches >= 3  # the replay really crossed batch boundaries

    all_rows = [r for b in batches for r in b]
    ev_batch = spark.createDataFrame(all_rows, EVENTS_STREAM_SCHEMA_NS).select(
        "event_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    clicks = ev_batch.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev_batch.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    want = {
        r.event_id: (r.ts_x, r.value_x)
        for r in asof_join(
            clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x"
        ).collect()
    }
    # every left here sees its at-or-before right inside its own batch's
    # merge (carried packet included), so stream must equal batch exactly
    # — including click @1h (no right precedes it → NULL, not the carried
    # future packet) and click @13h (keeps 10h; the late 2h right must
    # not regress the carried state).
    assert got == want


class _FakeGroupState:
    """The slice of ``GroupState`` the pandas kernels touch, so a kernel
    runs without a streaming query."""

    def __init__(self, packet=None):
        self.exists, self.get, self.updated = packet is not None, packet, None

    def update(self, packet):
        self.updated = packet


def _asof_chunk(rows):
    """One Arrow-shaped input chunk of ``(ts µs, is_left, event_id,
    value)`` rows for ``_asof_group``."""
    import pandas as pd

    ts, is_left, eid, value = zip(*rows)
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(pd.Series(ts, dtype="int64"), unit="us"),
            "is_left": list(is_left),
            "event_id": list(eid),
            "value": pd.Series(value, dtype="float64"),
        }
    )


def test_asof_kernel_carried_null_payload_keeps_float_dtype():
    """A carried packet whose payload is NULL joins the merge as a
    float64 row: no all-NA object column reaches ``pd.concat`` (pandas
    warns that it will change that concat's dtype)."""
    import warnings

    from elastic_asset_etl_poc_spark.streaming.stateful import _asof_group

    state = _FakeGroupState((50, None))
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        (out,) = _asof_group(
            (7,), iter([_asof_chunk([(100, 1, 1, 1.5)])]), state
        )
    assert out["right_ts_asof"].iloc[0].value // 1000 == 50
    assert out["right_value_asof"].isna().all()
    assert state.updated == (50, None)


def test_asof_kernel_timestamps_exact_past_2_53_us():
    """``right_ts_asof`` stays int64 µs: a right row at 2^53 + 1 µs
    comes back exact (a float64 round trip rounds it to 2^53), and a
    left with no right before it gets NULL."""
    import pandas as pd

    from elastic_asset_etl_poc_spark.streaming.stateful import _asof_group

    t = 2**53 + 1
    rows = [(t - 10, 1, 1, None), (t, 0, 2, 4.0), (t + 1, 1, 3, None)]
    (out,) = _asof_group((7,), iter([_asof_chunk(rows)]), _FakeGroupState())
    got = {
        r.event_id: (r.right_ts_asof, r.right_value_asof)
        for r in out.itertuples()
    }
    assert pd.isna(got[1][0]) and pd.isna(got[1][1])
    assert got[3] == (pd.Timestamp(t, unit="us"), 4.0)
    assert got[3][0].value // 1000 == t


def test_stream_file_sink_exactly_once_resume(spark, tmp_path):
    """Checkpointed file-sink runs are incremental and exactly-once:
    a second availableNow run over the same checkpoint processes ONLY
    files that arrived since the first, and a third run with no new
    input appends nothing — the restart/resume contract a production
    ingest pipeline relies on (no reprocessing, no duplicates)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("id long, s string")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .select("id", F.upper(F.col("s")).alias("s_up"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    def sink_rows():
        return sorted(
            (r.id, r.s_up) for r in spark.read.parquet(out).collect()
        )

    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert sink_rows() == [(1, "A"), (2, "B")]

    spark.createDataFrame([(3, "c")], "id long, s string").write.mode(
        "append"
    ).parquet(src)
    run_once()  # resumes from the checkpoint: only the new file
    assert sink_rows() == [(1, "A"), (2, "B"), (3, "C")]

    run_once()  # no new input → no duplicates
    assert sink_rows() == [(1, "A"), (2, "B"), (3, "C")]


def test_stream_dedup_keys_matches_batch_distinct(spark, tmp_path):
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        run_to_memory,
        stream_dedup_keys,
    )
    from elastic_asset_etl_poc_spark.sources.registry import load_table
    from conftest import SF_DIR
    import shutil, os

    staged = str(tmp_path / "ev")
    os.makedirs(staged)
    src = f"{SF_DIR}/events.parquet"
    shutil.copy(src, f"{staged}/part-000.parquet")
    q = run_to_memory(stream_dedup_keys(spark, staged), "sd_test", "append")
    q.stop()
    got = {(r.user_id, r.event_type) for r in spark.table("sd_test").collect()}
    exp = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_DIR, "events").select("user_id", "event_type").distinct().collect()
    }
    assert got == exp


def test_stream_ewma_multi_batch_matches_batch(spark, tmp_path):
    """EWMA state (the k−1 value tail, NULLs included as weightless
    placeholders) carries across micro-batches: a 1-file-per-trigger
    replay of an in-order series equals the batch rolling_ewma row for
    row."""
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.operators.temporal import rolling_ewma
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA_NS,
        run_to_memory,
    )
    from elastic_asset_etl_poc_spark.streaming.stateful import stream_ewma_enrich

    H = 3_600_000_000_000
    base = 1_700_000_000_000_000_000
    series = [
        (1, 1, 7, 10.0), (2, 2, 7, 20.0),
        (3, 3, 7, None), (4, 4, 7, 40.0),     # NULL occupies a lag slot
        (5, 5, 7, 50.0), (6, 6, 7, 60.0),
        (7, 1, 9, 5.0), (8, 2, 9, 15.0),      # second key
    ]
    batches = [series[:3], series[3:6], series[6:]]
    src = str(tmp_path / "ewma_stream")
    for i, b in enumerate(batches):
        rows = [(eid, base + h * H, uid, "click", val, None) for eid, h, uid, val in b]
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA_NS).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    ev = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_NS)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
    )
    q = run_to_memory(stream_ewma_enrich(ev), "ewma_multi", "update")
    try:
        n_batches = len(q.recentProgress)
        got = {
            r.event_id: r.ewma
            for r in spark.sql("SELECT * FROM ewma_multi").collect()
        }
    finally:
        q.stop()
    assert n_batches >= 3

    batch_rows = [
        (eid, base // 1000 + h * (H // 1000), uid, val)
        for eid, h, uid, val in series
    ]
    bdf = spark.createDataFrame(
        [(e, u, v) for e, _, u, v in batch_rows], "event_id long, user_id long, value double"
    ).withColumn("ts", F.timestamp_micros(F.lit(0) + F.col("event_id")))
    # order within key by event_id (ts built from event_id keeps it consistent)
    want = {
        r["event_id"]: r["ewma"]
        for r in rolling_ewma(
            bdf, "value", keys=["user_id"], order_by=["ts", "event_id"],
            alpha=0.5, k=4,
        ).collect()
    }
    assert set(got) == set(want)
    for eid in want:
        if want[eid] is None:
            assert got[eid] is None
        else:
            assert abs(got[eid] - want[eid]) < 1e-9, eid


def test_session_window_boundary_merge_semantics(spark):
    """Pin the two boundary facts the shared gap oracle encodes: events
    EXACTLY gap apart MERGE (Spark's session merge is overlap-inclusive),
    and one microsecond past the gap SPLITS — measured behavior the
    DuckDB oracle must reproduce with strict diff > gap at µs grain."""
    rows = [
        # user 1: 0s, +1800s (exactly gap) -> ONE session
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:30:00"),
        # user 2: 0s, +1800.000001s -> TWO sessions
        (3, 2, "2024-01-01 00:00:00"),
        (4, 2, "2024-01-01 00:30:00.000001"),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, user_id int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user = {}
    for r in out:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {1: 1, 2: 2}
    # merged window end = last event ts + gap
    (w1,) = [r.sw for r in out if r.user_id == 1]
    assert str(w1.end) == "2024-01-01 01:00:00"


def test_stream_session_windows_multi_batch_matches_batch(spark, tmp_path):
    """Native session windows must merge ACROSS micro-batches (state-store
    window merge): sessions spanning a batch boundary come out identical
    to the batch plan, drained in complete mode which re-emits the whole
    table each trigger (so the memory table is the final answer even
    with maxFilesPerTrigger=1)."""
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA_NS,
        run_to_memory,
        stream_session_windows,
    )

    M = 60_000_000_000  # 1 min in ns
    base = 1_700_000_000_000_000_000

    def ev(eid, minutes, uid, val):
        return (eid, base + minutes * M, uid, "click", val, None)

    # user 7: b1 [0m, 5m] | b2 [20m (15m gap: merges), 60m (splits)] |
    #         b3 [200m (splits)] -> 3 sessions
    # user 8: b1 [0m] | b3 [400m] -> 2 sessions
    batches = [
        [ev(1, 0, 7, 1.0), ev(2, 5, 7, 2.0), ev(10, 0, 8, 5.0)],
        [ev(3, 20, 7, 3.0), ev(4, 60, 7, 4.0)],
        [ev(5, 200, 7, 1.5), ev(11, 400, 8, 2.5)],
    ]
    src = str(tmp_path / "swin_multi_batch")
    for i, b in enumerate(batches):
        spark.createDataFrame(b, EVENTS_STREAM_SCHEMA_NS).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    typed = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_NS)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .selectExpr(
            "user_id", "timestamp_micros(ts div 1000) AS ts", "value"
        )
    )
    q = run_to_memory(
        stream_session_windows(typed), "swin_multi", "complete"
    )
    try:
        n_batches = len(q.recentProgress)
        got = {tuple(map(str, r)) for r in spark.table("swin_multi").collect()}
    finally:
        q.stop()
    assert n_batches >= 3
    batch_df = spark.createDataFrame(
        [r for b in batches for r in b], EVENTS_STREAM_SCHEMA_NS
    ).selectExpr("user_id", "timestamp_micros(ts div 1000) AS ts", "value")
    want = {
        tuple(map(str, r))
        for r in (
            batch_df.groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("sw")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
                F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                "total_value",
            )
        ).collect()
    }
    assert got == want
    assert len({k[0] for k in got}) == 2 and len(got) == 5  # 3 + 2 sessions


def test_stream_session_windows_append_mode_evicts_and_finalizes(spark, tmp_path):
    """The DEPLOYMENT configuration of native session windows: append
    mode with a small watermark.  Finalized sessions (window end older
    than the advanced watermark) are emitted EXACTLY ONCE and evicted
    from the state store; the still-open trailing session is withheld —
    the bounded-state behavior SCALE_r9.md's state-bound note says a
    real watermark restores (the suite drain deliberately disables it
    with 45 days + complete mode)."""
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA_NS,
        run_to_memory,
        stream_session_windows,
    )

    M = 60_000_000_000  # 1 min in ns
    base = 1_700_000_000_000_000_000

    def ev(eid, minutes, uid, val):
        return (eid, base + minutes * M, uid, "click", val, None)

    # user 7: [0m, 5m] then [200m] — the 200m event advances the
    # watermark (10m delay) to 190m, far past session-1's end (35m), so
    # [0..5m] finalizes and emits; [200m..] stays open and is withheld.
    batches = [
        [ev(1, 0, 7, 1.0), ev(2, 5, 7, 2.0)],
        [ev(3, 200, 7, 4.0)],
    ]
    src = str(tmp_path / "swin_append")
    for i, b in enumerate(batches):
        spark.createDataFrame(b, EVENTS_STREAM_SCHEMA_NS).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    typed = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_NS)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .selectExpr("user_id", "timestamp_micros(ts div 1000) AS ts", "value")
    )
    q = run_to_memory(
        stream_session_windows(typed, gap="30 minutes", watermark="10 minutes"),
        "swin_append",
        "append",
    )
    try:
        rows = spark.table("swin_append").collect()
    finally:
        q.stop()
    import datetime as dt

    def t(minutes):
        return dt.datetime.fromtimestamp(
            (base // 1_000_000_000) + minutes * 60, dt.timezone.utc
        ).replace(tzinfo=None)

    got = [
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in rows
    ]
    # ONLY the finalized session; the open [200m..] session is withheld
    assert got == [(7, t(0), t(35), 2, 3.0)]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """The 100-TB streaming contract the availableNow twins don't pin:
    RESTART correctness.  Drain half the input files to a parquet sink
    with a real checkpoint, stop, land the remaining files (with keys
    OVERLAPPING the first half), restart from the same checkpoint, and
    assert the union equals both an uninterrupted run and batch
    DISTINCT.  A broken offset log re-reads (or skips) phase-1 files; a
    broken state-store restore re-emits phase-1 keys that recur in
    phase-2 — either double-counts a key and fails the exact-equality
    check.  The sink read goes through _spark_metadata, so only
    committed files count (the exactly-once read side)."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA,
    )

    src = str(tmp_path / "src")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    # deterministic halves with heavy key overlap: users appear in both
    ev.filter(F.col("event_id") % 2 == 0).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)
    phase2 = ev.filter(F.col("event_id") % 2 == 1)

    def dedup_stream():
        s = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            s.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    def drain(out, ckpt):
        q = (
            dedup_stream()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    out_r = str(tmp_path / "out_recovered")
    ckpt_r = str(tmp_path / "ckpt_recovered")
    drain(out_r, ckpt_r)  # session 1: phase-1 files only, then "crash"
    n_phase1 = spark.read.parquet(out_r).count()
    assert n_phase1 > 0

    # land phase-2 files and RESTART from the same checkpoint
    import glob as _glob

    phase2.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "p2"))
    import shutil

    for i, f in enumerate(sorted(_glob.glob(str(tmp_path / "p2/*.parquet")))):
        shutil.copy(f, f"{src}/late-{i:02d}.parquet")
    drain(out_r, ckpt_r)  # session 2: must resume, not replay

    # uninterrupted control: all files visible from the start
    out_u = str(tmp_path / "out_uninterrupted")
    drain(out_u, str(tmp_path / "ckpt_uninterrupted"))

    recovered = spark.read.parquet(out_r)
    uninterrupted = spark.read.parquet(out_u)
    batch = ev.select("user_id", "event_type").distinct()

    def keyset(df):
        return sorted((r.user_id, r.event_type) for r in df.collect())

    rk, uk, bk = keyset(recovered), keyset(uninterrupted), keyset(batch)
    # exact multiset equality: any double-emit (state loss) or drop
    # (offset replay/skip) breaks these
    assert rk == bk
    assert uk == bk
    # and recovery emitted MORE than phase 1 alone (phase 2 had new keys)
    assert len(rk) > n_phase1 or len(rk) == n_phase1 == len(bk)


def test_checkpoint_recovery_windowed_agg(spark, tmp_path):
    """Restart correctness for WINDOWED AGGREGATION state (a different
    state-store type than dropDuplicates' key set): drain half the
    files into daily tumbling counts with a watermark, stop, land the
    rest, restart from the same checkpoint, and assert the appended
    window rows equal the uninterrupted run and the batch GROUP BY.
    Broken offset recovery double-counts rows into a window; broken
    window-state restore emits partial windows — both break exact
    equality.  Append mode only emits windows the watermark has
    CLOSED, so the comparison covers finalized windows on all sides."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA,
    )

    src = str(tmp_path / "src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # phase 1 = first half of the time range, phase 2 = the rest, so the
    # restart must both restore closed-window state AND keep the
    # watermark: a reset watermark would re-open finalized windows
    mid = ev.agg(
        F.expr(
            "timestamp_millis(CAST(avg(unix_millis(CAST(ts AS TIMESTAMP)))"
            " AS BIGINT))"
        )
    ).collect()[0][0]
    ev.filter(F.col("ts") <= mid).coalesce(2).write.mode("overwrite").parquet(src)

    def counts_stream():
        s = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            s.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "0 seconds")
            .groupBy(
                F.window("ts", "1 day").alias("w"), F.col("event_type")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"), "event_type", "n"
            )
        )

    def drain(out, ckpt):
        q = (
            counts_stream()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    out_r, ckpt_r = str(tmp_path / "out_r"), str(tmp_path / "ckpt_r")
    drain(out_r, ckpt_r)
    n_phase1 = spark.read.parquet(out_r).count()
    assert n_phase1 > 0

    import glob as _glob
    import shutil

    p2 = str(tmp_path / "p2")
    ev.filter(F.col("ts") > mid).coalesce(2).write.mode("overwrite").parquet(p2)
    for i, f in enumerate(sorted(_glob.glob(f"{p2}/*.parquet"))):
        shutil.copy(f, f"{src}/late-{i:02d}.parquet")
    drain(out_r, ckpt_r)

    out_u = str(tmp_path / "out_u")
    drain(out_u, str(tmp_path / "ckpt_u"))

    def rows(path):
        return sorted(
            (r["window_start"], r["event_type"], r["n"])
            for r in spark.read.parquet(path).collect()
        )

    recovered, uninterrupted = rows(out_r), rows(out_u)
    assert recovered == uninterrupted
    # batch referee over the CLOSED windows (append mode withholds the
    # final window the watermark never passed)
    emitted = {(w, t) for w, t, _ in recovered}
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    for w, t, n in recovered:
        assert batch[(w, t)] == n
    assert len(emitted) > 0


def test_checkpoint_recovery_kmins_sketch_state(spark, tmp_path):
    """Restart correctness for the k-mins QUANTILE-SKETCH state — a
    third state-store flavor beyond dropDuplicates' key set and the
    windowed COUNT: a struct-typed MIN aggregation (the
    stream_quantile_sketch_events shape, windowed here so append mode
    emits finalized sketches).  Drain the first half of the time
    range, stop, land the rest, restart from the same checkpoint:
    broken offset recovery feeds duplicate rows (harmless to min — so
    the real teeth are the window/watermark restore), broken
    struct-min state restore emits partial bucket minima that diverge
    from the uninterrupted run and the batch referee."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.sketches import kmins_sample
    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        EVENTS_STREAM_SCHEMA,
    )

    src = str(tmp_path / "src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    mid = ev.agg(
        F.expr(
            "timestamp_millis(CAST(avg(unix_millis(CAST(ts AS TIMESTAMP)))"
            " AS BIGINT))"
        )
    ).collect()[0][0]
    ev.filter(F.col("ts") <= mid).coalesce(2).write.mode("overwrite").parquet(src)

    def sketch_stream():
        s = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        base = (
            s.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "0 seconds")
            .select(
                F.window("ts", "1 day").alias("w"),
                "event_id",
                "value",
            )
        )
        return kmins_sample(base, ["w"], "event_id", "value", k=64).select(
            F.col("w.start").alias("window_start"), "idx", "hh", "v"
        )

    def drain(out, ckpt):
        q = (
            sketch_stream()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    out_r, ckpt_r = str(tmp_path / "out_r"), str(tmp_path / "ckpt_r")
    drain(out_r, ckpt_r)
    n_phase1 = spark.read.parquet(out_r).count()
    assert n_phase1 > 0

    p2 = str(tmp_path / "p2")
    ev.filter(F.col("ts") > mid).coalesce(2).write.mode("overwrite").parquet(p2)
    for i, f in enumerate(sorted(_glob.glob(f"{p2}/*.parquet"))):
        shutil.copy(f, f"{src}/late-{i:02d}.parquet")
    drain(out_r, ckpt_r)

    out_u = str(tmp_path / "out_u")
    drain(out_u, str(tmp_path / "ckpt_u"))

    def rows(path):
        return sorted(
            (r["window_start"], r["idx"], r["hh"], r["v"])
            for r in spark.read.parquet(path).collect()
        )

    recovered, uninterrupted = rows(out_r), rows(out_u)
    assert recovered == uninterrupted
    # batch referee over the closed (emitted) windows: every emitted
    # bucket minimum must equal the batch-built sketch's — a min that
    # "forgot" phase-1 state on restart would sit too high
    batch = {
        (r["window_start"], r["idx"]): (r["hh"], r["v"])
        for r in kmins_sample(
            ev.select(
                F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"),
                "event_id",
                "value",
            ),
            ["w"],
            "event_id",
            "value",
            k=64,
        )
        .select(F.col("w.start").alias("window_start"), "idx", "hh", "v")
        .collect()
    }
    assert len(recovered) > 0
    for w, idx, hh, v in recovered:
        assert batch[(w, idx)] == (hh, v)


def test_session_watermark_eviction_boundary_inclusive(spark):
    """Pins Spark's append-mode session eviction predicate as
    session_end <= watermark INCLUSIVE — the boundary the
    stream_session_watermark_events oracle states.  A session ending
    EXACTLY at (max event time - watermark delay) must be emitted; a
    session still inside the delay must be withheld (open state)."""
    import datetime
    import tempfile
    import uuid

    from elastic_asset_etl_poc_spark.streaming.services_stream import (
        run_to_memory,
        stream_session_windows,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: session end = base+30min == final watermark exactly
        (1, base, 1.0, 10),
        # user 2: the watermark driver (max ts = base+90min) — its own
        # session (end base+120min > watermark) must stay open/unemitted
        (2, base + datetime.timedelta(minutes=90), 2.0, 11),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    d = tempfile.mkdtemp(prefix="wmtie_")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    st = (
        spark.readStream.schema(
            "user_id long, ts timestamp, value double, event_id long"
        )
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    name = f"tie_{uuid.uuid4().hex[:6]}"
    q = run_to_memory(
        stream_session_windows(st, watermark="1 hour"), name, "append"
    )
    q.stop()
    out = spark.table(name).collect()
    assert [(r.user_id, r.n_events) for r in out] == [(1, 1)]
