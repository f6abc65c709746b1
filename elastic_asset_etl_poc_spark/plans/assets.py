"""Entry points 2 & 3 (dormant collectors): asset-graph construction.

Reference: ``collectServices`` (lib/collectServices.ts:10-174) and
``collectPods`` (lib/collectPods.ts:10-118).  Both follow the same shape:
one collapsed scan (top-1 doc per key, newest first) then a client-side
reduce that builds `SimpleAsset` docs and links them into a
parent/child/reference graph with O(n²) find-or-create.

Spark phrasing: collapse = window top-1 (one shuffle); the find-or-create
accumulation = group-and-collect hash aggregation (one shuffle); the
"attribute comes from the row that *created* the asset" order dependence
(nodes get their cluster parent from the newest row, lib/collectPods.ts:98-110)
= top-1 window per node.  Linear, spillable, deterministic.

Each collector holds its finished frames in the session memo
(``sources.registry.memo``): the collapsed top and both asset frames,
all ``.cache()``d, per session, ``sf_dir`` and window.  A call for the
held window over unchanged events files is served — it builds no plan
and runs no Spark job, and the asset frames it returns read as
in-memory relations.  A call for another window (an advancing ``now``),
after the events files changed, or after ``catalog.clearCache`` dropped
the held caches, builds afresh and releases the three held frames, so a
collector holds one window at a time.

A build reads the tick's cached signal window
(:func:`plans.services.signal_window`) rather than the events files, so
both collectors and both phases of the live pipeline share one events
scan and one ``props`` parse per window (a build after a cache clear
rebuilds the window first); each collector filters its own lookback on
top of it.

Deviations (documented, deliberate):
  * ``@timestamp`` is stamped with the caller's pinned ``now`` instead of
    wall-clock ``new Date()`` (X3) — determinism rule SURVEY.md §5.5.
  * The 1000-group collapse truncation (Q5) is not reproduced (it is an
    acknowledged bug — TODO lib/collectServices.ts:20); pass
    ``limit_groups=1000`` to opt back in.
  * Edge arrays are distinct + sorted (the reference can push duplicate
    pod EANs into container parents, lib/collectServices.ts:138-144).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import collapse_top1
from ..operators.filters import exists_all, exists_any, time_window
from ..operators.graph import group_collect_edges
from ..functions.scalar import make_ean
from ..sources.registry import memo, union_scan
from .services import COLLECT_LOOKBACK_DAYS, PINNED_NOW, signal_window


def _with_eans(df: DataFrame) -> DataFrame:
    """X1 EANs for every linkable entity on the row
    (lib/collectServices.ts:94-97)."""

    def ean(kind: str, col: str):
        return F.when(F.col(f"`{col}`").isNotNull(), make_ean(kind, F.col(f"`{col}`")))

    return df.withColumns(
        {
            "service_ean": make_ean("service", F.col("`service.name`")),
            "container_ean": ean("container", "container.id"),
            "pod_ean": ean("k8s.pod", "kubernetes.pod.uid"),
            "node_ean": ean("k8s.node", "kubernetes.node.name"),
        }
    )


def collect_services(
    spark: SparkSession,
    sf_dir: str,
    now: datetime = PINNED_NOW,
    limit_groups: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Service + container assets (lib/collectServices.ts).

    Returns ``(services, containers)`` in SimpleAsset column layout.
    """
    window = (now - timedelta(days=COLLECT_LOOKBACK_DAYS), now)

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        sig = signal_window(spark, sf_dir, now)
        sig = time_window(sig, "@timestamp", now, COLLECT_LOOKBACK_DAYS, "d")
        sig = sig.filter(F.col("`service.name`").isNotNull())  # must: exists (F4)
        sig = exists_any(  # should, minimum_should_match: 1 (F5)
            sig, "container.id", "kubernetes.pod.uid", "host.name", "host.hostname"
        )
        top = collapse_top1(sig, "service.name", "@timestamp", tiebreak="event.id")
        if limit_groups:  # Q5 bug-compat switch
            top = top.orderBy(F.col("`@timestamp`").desc()).limit(limit_groups)
        top = _with_eans(top).cache()
        services = top.select(
            F.lit(now).alias("@timestamp"),
            F.col("service_ean").alias("asset.ean"),
            F.lit("service").alias("asset.type"),
            F.col("`service.name`").alias("asset.id"),
            F.col("`service.name`").alias("asset.name"),
            # parents = [container ean] only when present (lib/collectServices.ts:107-109)
            F.when(
                F.col("container_ean").isNotNull(), F.array(F.col("container_ean"))
            ).alias("asset.parents"),
            F.lit(None).cast("array<string>").alias("asset.children"),
            # references = [pod?, node?] in cascade order (lib/collectServices.ts:115-121)
            F.array_compact(F.array(F.col("pod_ean"), F.col("node_ean"))).alias(
                "asset.references"
            ),
            F.col("`cloud.provider`").alias("cloud.provider"),
            F.lit(None).cast("string").alias("orchestrator.cluster.name"),
            F.col("`service.environment`").alias("service.environment"),
        )

        containers = (
            group_collect_edges(
                top.filter(F.col("container_ean").isNotNull()),
                owner_cols=["container_ean", "container.id"],
                edge_cols={
                    "asset.children": "service_ean",
                    "asset.parents": "pod_ean",
                    "asset.references": "node_ean",
                },
            )
            .select(
                F.lit(now).alias("@timestamp"),
                F.col("container_ean").alias("asset.ean"),
                F.lit("container").alias("asset.type"),
                F.col("`container.id`").alias("asset.id"),
                F.lit(None).cast("string").alias("asset.name"),
                F.col("`asset.parents`"),
                F.col("`asset.children`"),
                F.col("`asset.references`"),
                F.lit(None).cast("string").alias("cloud.provider"),
                F.lit(None).cast("string").alias("orchestrator.cluster.name"),
                F.lit(None).cast("string").alias("service.environment"),
            )
        )
        return top, services.cache(), containers.cache()

    _, services, containers = memo(
        spark, "assets.services_top", sf_dir, ["events"], build, (window, limit_groups)
    )
    return services, containers


def collect_pods(
    spark: SparkSession,
    sf_dir: str,
    now: datetime = PINNED_NOW,
) -> tuple[DataFrame, DataFrame]:
    """Pod + node assets (lib/collectPods.ts).

    Scans the union of the logs and APM sources (S4,
    lib/collectPods.ts:13) — modeled as two logical signal streams split by
    signal kind, unioned by name.
    """
    window = (now - timedelta(days=COLLECT_LOOKBACK_DAYS), now)

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        sig = signal_window(spark, sf_dir, now)
        logs = sig.filter(F.col("`metricset.name`").isin("click", "view", "error"))
        apm = sig.filter(F.col("`metricset.name`").isin("purchase", "signup"))
        both = union_scan(logs, apm)

        both = time_window(both, "@timestamp", now, COLLECT_LOOKBACK_DAYS, "d")
        # F4 (must ×2)
        both = exists_all(both, "kubernetes.pod.uid", "kubernetes.node.name")
        top = collapse_top1(
            both, "kubernetes.pod.uid", "@timestamp", tiebreak="event.id"
        )
        top = _with_eans(top).cache()
        pods = top.select(
            F.lit(now).alias("@timestamp"),
            F.col("pod_ean").alias("asset.ean"),
            F.lit("k8s.pod").alias("asset.type"),
            F.col("`kubernetes.pod.uid`").alias("asset.id"),
            F.lit(None).cast("string").alias("asset.name"),
            F.array(F.col("node_ean")).alias("asset.parents"),  # lib/collectPods.ts:77
            F.lit(None).cast("array<string>").alias("asset.children"),
            F.lit(None).cast("array<string>").alias("asset.references"),
            F.col("`cloud.provider`").alias("cloud.provider"),
            F.col("`orchestrator.cluster.name`").alias("orchestrator.cluster.name"),
            F.lit(None).cast("string").alias("service.environment"),
        )

        # The node's cluster parent comes from the row that *creates* the node —
        # the newest pod row for that node (find-or-create in desc sort order,
        # lib/collectPods.ts:98-110).  Window top-1 per node reproduces it.
        newest_per_node = collapse_top1(
            top, "kubernetes.node.name", "@timestamp", tiebreak="event.id"
        ).select(
            F.col("`kubernetes.node.name`").alias("__node"),
            F.col("`orchestrator.cluster.name`").alias("__cluster"),
        )

        node_children = group_collect_edges(
            top,
            owner_cols=["node_ean", "kubernetes.node.name"],
            edge_cols={"asset.children": "pod_ean"},
        )
        nodes = (
            node_children.join(
                newest_per_node,
                node_children["`kubernetes.node.name`"] == newest_per_node["__node"],
                "left",
            )
            .select(
                F.lit(now).alias("@timestamp"),
                F.col("node_ean").alias("asset.ean"),
                F.lit("k8s.node").alias("asset.type"),
                F.col("`kubernetes.node.name`").alias("asset.id"),
                F.lit(None).cast("string").alias("asset.name"),
                F.when(
                    F.col("__cluster").isNotNull(),
                    F.array(make_ean("k8s.cluster", F.col("__cluster"))),
                ).alias("asset.parents"),
                F.col("`asset.children`"),
                F.lit(None).cast("array<string>").alias("asset.references"),
                F.lit(None).cast("string").alias("cloud.provider"),
                F.lit(None).cast("string").alias("orchestrator.cluster.name"),
                F.lit(None).cast("string").alias("service.environment"),
            )
        )
        return top, pods.cache(), nodes.cache()

    _, pods, nodes = memo(spark, "assets.pods_top", sf_dir, ["events"], build, window)
    return pods, nodes
