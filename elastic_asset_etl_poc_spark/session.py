"""SparkSession factory (reference: lib/es_client.ts:5,34-45 singleton client).

The reference memoizes one dual-cluster ES client per process
(``lib/es_client.ts:34-38``); here one tuned SparkSession serves both the
"reader" and "writer" roles (S5/S6) — read paths and write paths are plain
options on the DataFrame API.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
  * AQE on: runtime partition coalescing, skew-join splitting, and
    dynamic join-strategy switching replace hand-tuned shuffle counts.
  * ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
    real cluster set it ~2-3× total cores and let AQE coalesce.
  * Cached plans are coalesced too.  Spark's default keeps a ``.cache()``d
    plan at the pre-AQE width: the asset collectors' cached top frames
    (20 services, 40 pods) would hold 32 partitions each, and every stage
    over them, the upsert batch's included, would run a task per empty
    partition.  Allowing AQE to change a cached plan's output
    partitioning sizes it by bytes like every uncached plan; a consumer
    that could have reused the cached hash layout pays a shuffle instead.
  * The driver heap defaults to half the host's RAM (``/proc/meminfo``
    MemTotal), so a small host never gets a heap larger than its memory;
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
  * nanosAsLong: an events file written as TIMESTAMP(NANOS), which the
    vectorized Parquet reader rejects, is read as a ns long and converted
    to microsecond timestamps at the source boundary
    (sources/registry.py).  The fixture files at sf0.001/0.01/0.1 store
    ``ts`` as TIMESTAMP(MICROS) and never take that branch.
  * Arrow enabled for any toPandas()/pandas-UDF path (extensions only —
    reference parity needs zero Python UDFs, SURVEY.md §2.10).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def default_driver_memory() -> str:
    """Half the host's MemTotal as a JVM size (``"7500m"``), or Spark's
    ``"1g"`` when ``/proc/meminfo`` is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "1g"
    return f"{kb // 2 // 1024}m"


def get_spark(
    app_name: str = "elastic-asset-etl-poc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build or reuse the singleton SparkSession (S6: getOrCreate)."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Determinism: UTC everywhere so Spark timestamps collect identically
        # to the DuckDB oracle's naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # a TIMESTAMP(NANOS) events file reads as long, converted at source
        # (the fixture files store TIMESTAMP(MICROS) and read as timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: coalesce post-shuffle partitions, split skewed joins at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ...and coalesce cached plans as well: by default a .cache()d plan
        # keeps all shuffle.partitions, mostly empty at this scale, and
        # every stage reading it pays a task per partition.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        # Local-mode heap: Spark's 1g default thrashes GC on shuffle-heavy
        # work long before this box's RAM matters (the sf1 smoke OOM'd the
        # driver JVM at 1g).  Half the host's RAM by default, so the heap
        # never exceeds the machine.  Only honored at JVM launch — a
        # pre-existing session (driver-owned harness) keeps its own setting.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Dims (region/nation/customer at test SF) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MIN/MAX/COUNT can be answered from parquet footers.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource filter pushdown (mock-ES source, sources/es_source.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
