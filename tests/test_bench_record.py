"""bench.run_query: one query's record — medians, the build/exec split,
jobs cold and warm from the tracer's job-id range, GC time and the
session-memo deltas — checked against a job-group count of the same
call, an independent ground truth for batch queries."""

import pytest
from conftest import SF_DIR

import bench
from elastic_asset_etl_poc_spark import suite
from elastic_asset_etl_poc_spark.sources.registry import clear
from perfbench.spans import Tracer


def _group_jobs(spark, group: str, call) -> int:
    """Jobs ``call()`` ran, counted by job group once the listener bus has
    delivered their events to the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name, memoized",
    [("jaccard_neardup_docs", True), ("agg_pricing_summary", False)],
)
def test_run_query_record_matches_job_groups(spark, name, memoized):
    fn = suite.queries()[name]
    clear(spark)  # the cold run builds the query's memo entries
    rec: dict = {}

    def timed():
        rec.update(bench.run_query(spark, Tracer(spark), name, fn, SF_DIR, 2))

    both = _group_jobs(spark, f"{name}_record", timed)

    assert set(rec) == {
        "median", "cold", "build_s", "exec_s", "jobs", "gc_ms",
        "memo_built", "memo_served",
    }
    assert rec["median"] > 0 and rec["cold"] > 0
    assert rec["build_s"] > 0 and rec["exec_s"] > 0 and rec["gc_ms"] >= 0
    cold, warm = rec["jobs"]["cold"], rec["jobs"]["warm"]
    assert cold + warm == both
    if memoized:
        # run 1 builds the entries that run 2 serves, with fewer jobs
        assert rec["memo_built"] > 0 and rec["memo_served"] > 0
        assert cold > warm > 0
    else:
        assert rec["memo_built"] == rec["memo_served"] == 0
        assert cold >= warm > 0

    def warm_call():
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    assert warm == _group_jobs(spark, f"{name}_warm", warm_call)
