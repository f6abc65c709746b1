"""Structured Streaming phrasing of the reference's incremental pattern.

The reference is a one-shot batch poll whose *implied* incremental model is
"run repeatedly, look back now-10m, upsert latest state" (SURVEY.md §2.9 —
the F1 sites plus the TODO at lib/collectServices.ts:20 describing ASC +
search_after checkpointing).  That is exactly a micro-batch stream:

  * keyset pagination / search_after  →  file-source offsets + checkpoint
  * per-run lookback window           →  event-time watermark
  * A1 last-wins dedup                →  stateful groupBy max(ts)
  * page-size batching                →  maxFilesPerTrigger

This module is an *extension*, not reference behavior (late-data policy has
no reference ground truth), so it ships alongside the batch plans and is
excluded from the oracle (SURVEY.md §7 phase 6).

Scale posture: state lives in the state store keyed by (name, environment)
— cardinality = number of services, tiny; the watermark bounds state for
the windowed variants.  ``availableNow`` triggers give batch-like runs over
whatever files exist, which is also how the tests drive it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.signals import SERVICE_SUMMARY_EVENT, signal_columns

#: events.parquet layout; ts is µs-precision TIMESTAMP in the fixture and
#: loads as TIMESTAMP_NTZ, exactly as the batch path (registry.load_table)
#: leaves it — forcing LongType here would yield µs longs and any manual
#: epoch conversion would have to guess the unit (the r4 bug).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: same layout with ts as a raw ns-epoch long — the synthetic-input
#: encoding used by the multi-batch stateful tests, which convert with
#: ``timestamp_micros(ts div 1000)`` themselves.
EVENTS_STREAM_SCHEMA_NS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of events rows; ``maxFilesPerTrigger`` is the
    page-size analog (O3): each micro-batch consumes a bounded file set,
    with offsets checkpointed like search_after."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def _stream_signal_view(
    spark: SparkSession, source_dir: str, *fields: str
) -> DataFrame:
    """The named signal fields over the events stream, derived by the
    batch view's own expressions (sources.signals.SIGNAL_EXPRS);
    ``@timestamp`` is cast to TIMESTAMP for the watermark."""
    return (
        _events_stream(spark, source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .selectExpr(*signal_columns(*fields))
    )


def stream_signals(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of signal documents (S1 as readStream): the
    fields service discovery and the windowed counts read."""
    return _stream_signal_view(
        spark,
        source_dir,
        "@timestamp",
        "event.id",
        "metricset.name",
        "service.name",
        "service.environment",
    )


def stream_services_phase1(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming phase 1: continuous service discovery with A1 dedup.

    ``groupBy(name, environment).agg(max(ts))`` is the stateful last-wins
    dedup; the watermark bounds how late a signal may arrive and still
    update its service.  Run in ``update``/``complete`` output mode.
    """
    sig = stream_signals(spark, source_dir)
    return (
        sig.filter(F.col("`metricset.name`") == SERVICE_SUMMARY_EVENT)
        .withWatermark("`@timestamp`", watermark)
        .groupBy(
            F.col("`service.name`").alias("name"),
            F.col("`service.environment`").alias("environment"),
        )
        .agg(
            # back to NTZ: batch plans and the oracle emit TIMESTAMP_NTZ;
            # UTC session TZ makes the round-trip a wall-clock identity
            F.max(F.col("`@timestamp`")).cast("timestamp_ntz").alias("last_seen")
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 day",
    watermark: str = "1 day",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window signal counts per metricset — the canonical
    watermark + windowed aggregation (append-mode capable; late data
    beyond the watermark is dropped).  ``slide`` switches to a hopping
    window (each event lands in window/slide overlapping windows; state
    scales by the same factor — bounded, priced-in overlap)."""
    sig = stream_signals(spark, source_dir)
    win = (
        F.window(F.col("`@timestamp`"), window, slide)
        if slide
        else F.window(F.col("`@timestamp`"), window)
    )
    return (
        sig.withWatermark("`@timestamp`", watermark)
        .groupBy(
            win.alias("w"),
            F.col("`metricset.name`").alias("metricset_name"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("metricset_name"),
            F.col("n"),
        )
    )


def stream_session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "45 days",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """GAP-BASED session aggregation with Spark's NATIVE session window
    (``F.session_window`` — merge-on-overlap inside the JVM aggregation,
    no Python state function): per (key, session) start/end/count/sum,
    where a session extends while consecutive events are ≤ ``gap``
    apart (events EXACTLY gap apart merge — window end is
    last-event-ts + gap and the merge test is overlap-inclusive; the
    batch oracle must therefore split only on strict ``diff > gap``).

    The state lives in the state store as mergeable window ranges and
    the whole operator is JVM-side, with no Python state function — the
    form to prefer whenever per-session logic is expressible as
    aggregates.  Spark requires a watermark and only append/complete
    output for session windows (update is rejected);
    complete mode re-emits the full session table each micro-batch, so
    an availableNow drain into the memory sink is batch-equivalent
    regardless of how many micro-batches the file source splits into.
    State is bounded by the watermark: sessions older than it are
    finalized and evicted — size watermark to max tolerated lateness,
    not to the drain-everything suite setting used here."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(
            key_col,
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete", timeout: int = 120
):
    """Drive a streaming frame to a memory sink with an availableNow
    trigger and block until done — batch-equivalent execution for tests."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout)
    return query


def stream_service_parents(
    spark: SparkSession,
    source_dir: str,
    services: DataFrame,
) -> DataFrame:
    """Streaming phase 2: enrich the signal stream with the X2 parent
    cascade, semi-joined against a *static* phase-1 service list
    (stream-static join — the build side broadcasts into every
    micro-batch, so the stream never shuffles; the J1 pattern, live).
    """
    from ..functions.scalar import find_parent
    from ..operators.filters import exists_any
    from ..operators.joins import semi_join_in_list

    sig = stream_signals_full(spark, source_dir)
    sig = semi_join_in_list(sig, services, "service.name", "name")
    sig = exists_any(
        sig, "container.id", "kubernetes.pod.uid", "host.name", "host.hostname"
    )
    parent = find_parent()
    return sig.select(
        F.col("`event.id`").alias("event_id"),
        F.col("`@timestamp`").cast("timestamp_ntz").alias("ts"),
        F.col("`service.name`").alias("name"),
        parent.getField("parent_type").alias("parent_type"),
        parent.getField("parent_ean").alias("parent_ean"),
    )


def stream_signals_full(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming signal view with the full parent-candidate field set."""
    return _stream_signal_view(
        spark,
        source_dir,
        "@timestamp",
        "event.id",
        "metricset.name",
        "service.name",
        "container.id",
        "kubernetes.pod.uid",
        "host.name",
        "host.hostname",
    )


def stream_dedup_keys(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "90 days",
) -> DataFrame:
    """Streaming ingest-time dedup: first-seen (user, event_type) keys
    via ``dropDuplicatesWithinWatermark`` — the bounded-state streaming
    twin of batch ``SELECT DISTINCT`` (and of the batch digest-store
    dedup in ``neardup.dedup_incremental``).

    State for a key is held only ``watermark`` past its event time, so
    a production stream's memory is bounded by key arrival rate × the
    window, not by stream lifetime — the trade being that a key
    recurring LATER than the watermark re-emits (accepted in ingest
    dedup: late replays are rare and downstream exact dedup catches
    them).  The suite query sizes the watermark past the fixture's
    30-day span, so the drained output is exactly the distinct key set
    and hash-checks against the batch oracle.

    Output (append mode): one row per first-seen key — key columns
    only, because WHICH physical row arrives first is a scheduling
    artifact; the key set is the deterministic contract.
    """
    return (
        _events_stream(spark, source_dir)
        .select(
            F.col("ts").cast("timestamp").alias("@timestamp"),
            "user_id",
            "event_type",
        )
        .withWatermark("`@timestamp`", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
