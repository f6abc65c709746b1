"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship two-phase service-discovery pipeline
(reference run.ts:10 → lib/collectServicesFromSummaries.ts:321-325) at
sf0.001.  ``queries()``/``oracle_sql()`` expose the full operator suite —
see ``elastic_asset_etl_poc_spark/suite.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from elastic_asset_etl_poc_spark import suite
from elastic_asset_etl_poc_spark.plans.services import collect_services_from_summaries


def _prepare(spark: SparkSession) -> None:
    """Driver-owned sessions may lack the confs the fixtures need."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Runs with ``observe=True`` so both phase frames carry Observation
    metrics (§2.11): the driver's collect on the returned frame also
    evaluates phase-2's row/null-key counters at zero extra passes
    (readable afterwards via ``plans.services.LAST_OBSERVATIONS``)."""
    _prepare(spark)
    services, full_services = collect_services_from_summaries(
        spark, "/root/testdata/sf0.001", observe=True
    )
    return full_services


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in suite.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect twins of ``queries()`` (omitted → rows-only check)."""
    return suite.oracle_sql()
