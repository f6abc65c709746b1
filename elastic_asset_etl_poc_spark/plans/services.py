"""Entry point 1 (the live pipeline): two-phase service discovery.

Reference: ``collectServicesFromSummaries``
(lib/collectServicesFromSummaries.ts:321-325) —

  * **Phase 1** (:11-112): scan APM summaries, ``range @timestamp gte
    now-10m`` + ``term metricset.name = service_summary``, project
    ``(@timestamp, service.name, service.environment)``, keyset-paginate,
    then dedup to distinct (name, environment) keeping the max timestamp.
  * **Phase 2** (:177-319): scan signals ``gte now-15m`` with phase-1
    names shipped in as a ``terms`` clause (the IN-list semi-join J1),
    require at least one parent-candidate field (F5), derive the parent via
    the ``findParent`` cascade (X2).  Phase-2 output is intentionally NOT
    deduplicated (Q3: the dedup is commented out at :292-300) — one row per
    matching signal document.

Spark phrasing: two declarative plans; the phase-1 result is broadcast into
phase 2 as a semi-join build side, so the (at scale, 100 TB) signal scan
never shuffles.  Keyset pagination (O4) has no analog — a partitioned scan
replaces sequential page recursion.

One signal scan per tick: both phases, and the asset collectors of
``plans/assets.py``, read :func:`signal_window` — the signals of the
``SIGNAL_SPAN_DAYS`` up to ``now``, scanned, parsed (``from_json`` of
``props``) and ``.cache()``d once in the session memo
(``sources.registry.memo``), keyed on the window and the events files'
identity.  Each reader filters its own lookback on top, so its rows are
those of a direct scan.  A tick over the held window parses no events; a
tick with a new ``now`` fills the new window once and releases the old.

Fixture parameterization: the lookbacks are fixed, like the reference's
``now-10m``/``now-15m``/``now-1h``, but day-scale (the fixture spans one
month); ``now`` is always explicit (determinism rule, SURVEY.md §5.5).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import FIND_PARENT_SQL
from ..operators.dedup import dedup_latest
from ..operators.filters import exists_any, term, time_window
from ..operators.joins import semi_join_in_list
from ..operators.project import project_rename
from ..sources.registry import memo
from ..sources.signals import SERVICE_SUMMARY_EVENT, signals_view

#: Pinned "now" for deterministic fixture runs: just past max(events.ts)
#: (2024-01-30 23:26:16) at every scale factor.
PINNED_NOW = datetime(2024, 1, 31, 0, 0, 0)

PHASE1_LOOKBACK_DAYS = 15
PHASE2_LOOKBACK_DAYS = 20
COLLECT_LOOKBACK_DAYS = 10  # fixture-scale analog of the collectors' `gte: now-1h`

#: Days of signals one cached window holds: every lookback of a tick.
SIGNAL_SPAN_DAYS = max(PHASE1_LOOKBACK_DAYS, PHASE2_LOOKBACK_DAYS, COLLECT_LOOKBACK_DAYS)


def signal_window(spark: SparkSession, sf_dir: str, now: datetime) -> DataFrame:
    """The signal documents of the ``SIGNAL_SPAN_DAYS`` up to ``now``,
    ``.cache()``d.

    Held in the session memo per ``sf_dir``, window and events files'
    identity, so a tick's readers share one scan and one ``props`` parse:
    Catalyst pushes the window's time range into that fill scan.  A call
    for another window builds afresh and releases the held one; so does
    a call after ``catalog.clearCache`` dropped the window's cache."""
    window = (now - timedelta(days=SIGNAL_SPAN_DAYS), now)

    def build() -> DataFrame:
        sig = signals_view(spark, sf_dir, ts_range=window)  # scan-level pruning
        return time_window(sig, "@timestamp", now, SIGNAL_SPAN_DAYS, "d").cache()

    return memo(spark, "signals.window", sf_dir, ["events"], build, window)


def batch_search_for_services(
    spark: SparkSession,
    sf_dir: str,
    now: datetime = PINNED_NOW,
) -> DataFrame:
    """Phase 1 → distinct services ``(name, environment, last_seen)``.

    Window→filter→project→hash-agg; single shuffle (the dedup groupBy).
    The time range reaches the parquet scan that fills the signal window;
    the term filter prunes the window's cached batches.
    """
    sig = signal_window(spark, sf_dir, now)
    sig = time_window(sig, "@timestamp", now, PHASE1_LOOKBACK_DAYS, "d")
    sig = term(sig, "metricset.name", SERVICE_SUMMARY_EVENT)
    rows = project_rename(
        sig,
        {"service.name": "name", "service.environment": "environment", "@timestamp": "ts"},
    )
    return dedup_latest(rows, ["name", "environment"], "ts").withColumnRenamed(
        "ts", "last_seen"
    )


def batch_search_for_service_parents(
    spark: SparkSession,
    sf_dir: str,
    services: DataFrame,
    now: datetime = PINNED_NOW,
) -> DataFrame:
    """Phase 2 → one row per signal doc for a known service, with its
    parent derived by the X2 cascade.  No dedup (Q3).  Reads the same
    signal window as phase 1, so the broadcast build side and the probe
    side share one scan."""
    sig = signal_window(spark, sf_dir, now)
    sig = time_window(sig, "@timestamp", now, PHASE2_LOOKBACK_DAYS, "d")
    sig = semi_join_in_list(sig, services, "service.name", "name")
    sig = exists_any(
        sig, "container.id", "kubernetes.pod.uid", "host.name", "host.hostname"
    )
    parent = f"({FIND_PARENT_SQL})"
    return sig.selectExpr(
        "`event.id` AS event_id",
        "`@timestamp` AS ts",
        "`service.name` AS name",
        "`container.id` AS container_id",
        "`kubernetes.pod.uid` AS pod_uid",
        "`host.name` AS host_name",
        "`host.hostname` AS host_hostname",
        f"{parent}.parent_type AS parent_type",
        f"{parent}.parent_id AS parent_id",
        f"{parent}.parent_ean AS parent_ean",
    )


#: Observations attached by the most recent ``observe=True`` pipeline
#: run (keys ``phase1``/``phase2``).  Read AFTER an action on the
#: returned frame; ``entry()`` runs through this path so the flagship's
#: in-flight metrics are assertable post-collect (§2.11).
LAST_OBSERVATIONS: dict = {}


def collect_services_from_summaries(
    spark: SparkSession,
    sf_dir: str,
    now: datetime = PINNED_NOW,
    observe: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The flagship pipeline (run.ts:10): phase 1 then phase 2.

    With ``observe=True``, both phase frames carry ``Observation``
    metrics (row counts + null-key counts) that ride the physical plan
    of the next action at zero extra passes — the §2.11 in-flight
    contract check (phase-1 names must never be NULL: they become the
    phase-2 IN-list; phase-2 event ids must never be NULL: they are the
    sink's doc ids).  The Observations land in ``LAST_OBSERVATIONS``
    because the function's frame-pair return shape is part of the
    reference parity surface (run.ts:10 returns the frames, not the
    telemetry)."""
    services = batch_search_for_services(spark, sf_dir, now)
    if observe:
        from ..observability import observed

        services, obs1 = observed(
            services,
            "phase1_services",
            F.count(F.lit(1)).alias("n_services"),
            F.sum(
                F.when(F.col("name").isNull(), 1).otherwise(0)
            ).alias("null_names"),
        )
    full = batch_search_for_service_parents(spark, sf_dir, services, now)
    if observe:
        full, obs2 = observed(
            full,
            "phase2_parents",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("event_id").isNull(), 1).otherwise(0)
            ).alias("null_event_ids"),
            F.sum(
                F.when(F.col("parent_type").isNull(), 1).otherwise(0)
            ).alias("null_parent_types"),
        )
        LAST_OBSERVATIONS.clear()
        LAST_OBSERVATIONS.update({"phase1": obs1, "phase2": obs2})
    return services, full
