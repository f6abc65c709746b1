"""Signal derivation: the reference's APM/log documents from the events fixture.

The reference reads schemaless *signal documents* whose fields are flattened
dotted names fetched via the ES fields API (SURVEY.md §1.1,
``lib/collectServicesFromSummaries.ts:23-28,186-197``).  FIXTURES.md §2 maps
those fields deterministically onto the driver's ``events`` table; this
module is the single source of truth for that mapping, expressed twice:

  * :data:`SIGNAL_EXPRS` — Spark SQL expressions (builtin functions only,
    JVM-side, whole-stage-codegen friendly), read by :func:`signals_view`
    and by the streaming signal views;
  * :data:`SIGNALS_ORACLE_CTE` — the identical derivation as a DuckDB CTE
    used by every ``oracle_sql()`` entry.

Null semantics are kept engine-identical: every concat uses the
NULL-propagating form (Spark ``concat`` returns NULL on any NULL input;
the oracle uses ``||`` which does the same — DuckDB ``concat`` would
*skip* NULLs, so it is deliberately avoided).

Derived fields (k = props->'$.k', always present in the fixture):
  `service.name`               svc-{user_id % 20}
  `service.environment`        env-{k % 3}
  `metricset.name`             event_type              (F2's term target)
  `container.id`               cont-{user_id % 50}     when k % 5 = 0
  `kubernetes.pod.uid`         pod-{user_id % 40}      when k % 5 in (0,1)
  `kubernetes.node.name`       node-{user_id % 10}     when k % 5 in (0,1,2)
  `host.name`                  host-{user_id % 25}     when k % 3 = 0
  `host.hostname`              hh-{user_id % 25}       when k % 7 <> 0
  `cloud.provider`             aws|gcp                 when k % 4 in (0,1)
  `orchestrator.cluster.name`  cluster-{user_id % 3}   when k % 2 = 0
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import load_table

#: The events.event_type value standing in for the reference's
#: ``metricset.name == 'service_summary'`` term filter
#: (lib/collectServicesFromSummaries.ts:40-47).
SERVICE_SUMMARY_EVENT = "purchase"

#: dotted (reference-verbatim) name → oracle/underscore alias
SIGNAL_FIELDS: list[tuple[str, str]] = [
    ("@timestamp", "ts"),
    ("event.id", "event_id"),
    ("metricset.name", "metricset_name"),
    ("service.name", "service_name"),
    ("service.environment", "service_environment"),
    ("container.id", "container_id"),
    ("kubernetes.pod.uid", "pod_uid"),
    ("kubernetes.node.name", "node_name"),
    ("host.name", "host_name"),
    ("host.hostname", "host_hostname"),
    ("cloud.provider", "cloud_provider"),
    ("orchestrator.cluster.name", "orchestrator_cluster_name"),
]


#: the fixture's per-event integer ``k`` (``props->'$.k'``); the
#: schema-based parse beats get_json_object ~20%, identical null semantics
_K = "from_json(props, 'k INT').k"


def _tag(prefix: str, col: str, mod: int) -> str:
    """NULL-propagating `{prefix}-{col % mod}` (matches `||` in the oracle)."""
    return f"concat('{prefix}-', CAST({col} % {mod} AS STRING))"


#: dotted signal field → its Spark SQL derivation over an events row, in
#: output order.  One ``selectExpr`` over these strings is one JVM call
#: per view (Column-built views cost ~100 py4j round trips each).
SIGNAL_EXPRS: dict[str, str] = {
    "@timestamp": "ts",
    "event.id": "event_id",
    "metricset.name": "event_type",
    "service.name": _tag("svc", "user_id", 20),
    "service.environment": _tag("env", _K, 3),
    "container.id": f"CASE WHEN {_K} % 5 = 0 THEN {_tag('cont', 'user_id', 50)} END",
    "kubernetes.pod.uid": (
        f"CASE WHEN {_K} % 5 IN (0, 1) THEN {_tag('pod', 'user_id', 40)} END"
    ),
    "kubernetes.node.name": (
        f"CASE WHEN {_K} % 5 IN (0, 1, 2) THEN {_tag('node', 'user_id', 10)} END"
    ),
    "host.name": f"CASE WHEN {_K} % 3 = 0 THEN {_tag('host', 'user_id', 25)} END",
    "host.hostname": f"CASE WHEN {_K} % 7 <> 0 THEN {_tag('hh', 'user_id', 25)} END",
    "cloud.provider": (
        f"CASE WHEN {_K} % 4 = 0 THEN 'aws' WHEN {_K} % 4 = 1 THEN 'gcp' END"
    ),
    "orchestrator.cluster.name": (
        f"CASE WHEN {_K} % 2 = 0 THEN {_tag('cluster', 'user_id', 3)} END"
    ),
}


def signal_columns(*fields: str) -> list[str]:
    """``selectExpr`` strings deriving the named signal fields (all of
    :data:`SIGNAL_EXPRS` when none are named), aliased to their dotted
    names."""
    return [f"{SIGNAL_EXPRS[f]} AS `{f}`" for f in fields or SIGNAL_EXPRS]


def signals_view(spark: SparkSession, sf_dir: str, ts_range=None) -> DataFrame:
    """events → signal documents with the reference's dotted field names.

    ``ts_range`` forwards to :func:`load_table` so time windows prune at
    the parquet scan (see registry.load_table pushdown note).
    """
    ev = load_table(spark, sf_dir, "events", ts_range=ts_range)
    return ev.selectExpr(*signal_columns())


#: DuckDB CTE computing the identical signal view (underscore names).
#: `||` (not concat()) so NULL propagation matches Spark's concat.
SIGNALS_ORACLE_CTE = """
signals AS (
  SELECT
    ts,
    event_id,
    event_type AS metricset_name,
    'svc-'  || (user_id % 20) AS service_name,
    'env-'  || (k % 3)        AS service_environment,
    CASE WHEN k % 5 = 0        THEN 'cont-' || (user_id % 50) END AS container_id,
    CASE WHEN k % 5 IN (0, 1)  THEN 'pod-'  || (user_id % 40) END AS pod_uid,
    CASE WHEN k % 5 IN (0,1,2) THEN 'node-' || (user_id % 10) END AS node_name,
    CASE WHEN k % 3 = 0        THEN 'host-' || (user_id % 25) END AS host_name,
    CASE WHEN k % 7 <> 0       THEN 'hh-'   || (user_id % 25) END AS host_hostname,
    CASE WHEN k % 4 = 0 THEN 'aws' WHEN k % 4 = 1 THEN 'gcp' END AS cloud_provider,
    CASE WHEN k % 2 = 0        THEN 'cluster-' || (user_id % 3) END AS orchestrator_cluster_name
  FROM (
    SELECT *, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events
  )
)
"""
