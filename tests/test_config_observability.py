"""Catalog/env-switch (S3/S10) and error-observability (§2.11) tests."""

import os
import subprocess
import sys

import pytest

from elastic_asset_etl_poc_spark.config import Catalog
from elastic_asset_etl_poc_spark.observability import run_and_print_plan_on_error

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_cross_cluster_switch(monkeypatch):
    local = Catalog(root="/data/local", remote_root="/data/remote", cross_cluster=False)
    assert local.source_path("events") == "/data/local/events.parquet"
    ccs = Catalog(root="/data/local", remote_root="/data/remote", cross_cluster=True)
    assert ccs.source_path("events") == "/data/remote/events.parquet"
    # ES_IS_CCS env drives the default, like constants.ts:7-21
    monkeypatch.setenv("ES_IS_CCS", "true")
    assert Catalog(root="/l", remote_root="/r").source_path("t") == "/r/t.parquet"


def test_catalog_write_defaults_to_read():
    cat = Catalog(root="/data/local")
    assert cat.sink_path("assets") == "/data/local/assets"  # run.ts:36-37
    assert Catalog(root="/a", write_root="/w").sink_path("x") == "/w/x"


def test_plan_echo_on_error(spark, capsys):
    bad = spark.range(1).selectExpr("assert_true(id > 0) AS boom")  # runtime failure
    logged = []
    with pytest.raises(Exception):
        run_and_print_plan_on_error(bad, log=logged.append)
    assert any("plan echo" in m for m in logged)
    assert any("Physical Plan" in m or "Parsed Logical Plan" in m for m in logged)


def test_plan_echo_passthrough(spark):
    df = spark.range(3)
    out = run_and_print_plan_on_error(df)
    assert len(out) == 3


def test_cli_runs_end_to_end(tmp_path):
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable, "-m", "elastic_asset_etl_poc_spark",
            "--read", "local", "--sf-dir", "/root/testdata/sf0.001",
            "--limit", "3", "--assets-out", str(tmp_path / "assets"),
        ],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Finished running ETL" in out.stdout
    assert '"name"' in out.stdout  # JSON lines printed
    assert (tmp_path / "assets").exists()


def test_cli_rejects_unknown_cluster():
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "elastic_asset_etl_poc_spark", "--read", "nope"],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert out.returncode == 2
    assert "unknown cluster name" in out.stderr


def test_load_table_alternate_formats(spark, tmp_path):
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "region")
    src.write.option("header", "true").mode("overwrite").csv(str(tmp_path / "region.csv"))
    back = load_table(spark, str(tmp_path), "region")
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    src.write.mode("overwrite").json(str(tmp_path / "nation.json"))
    # json fallback picked up for a table with no parquet present
    spark.read.json(str(tmp_path / "nation.json"))  # sanity: readable
    assert load_table(spark, str(tmp_path), "nation").count() == src.count()
    # ORC: columnar alternate with pushdown intact (checked in the plan)
    src.write.mode("overwrite").orc(str(tmp_path / "supplier.orc"))
    orc_back = load_table(spark, str(tmp_path), "supplier")
    assert orc_back.count() == src.count()
    plan = (
        orc_back.filter("r_regionkey = 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "r_regionkey" in plan


def test_stale_first_export_order(tmp_path):
    """queries()/oracle_sql() export stale-first: never-checked queries
    lead, then oldest-checked by round, ties in registration order —
    and corrupt/absent artifacts must never break the export."""
    import json

    from elastic_asset_etl_poc_spark import suite

    # empty root: no artifacts -> registration order, nothing crashes
    assert list(suite._last_checked(str(tmp_path))) == []

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"svc_phase1_dedup": {}, "assets_services": {}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"svc_phase1_dedup": {}})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("not json at all")  # ignored
    seen = suite._last_checked(str(tmp_path))
    assert seen == {"svc_phase1_dedup": 2, "assets_services": 1}

    # the real export: every registered query present exactly once, and
    # any never-checked query sorts before every checked one
    names = list(suite.queries())
    assert sorted(names) == sorted(suite.SUITE)
    real_seen = suite._last_checked()
    ranks = [real_seen.get(n, -1) for n in names]
    assert ranks == sorted(ranks)  # monotone: stale-first ordering holds


def test_cli_query_mode(spark, capsys):
    """--query runs a named suite query and prints JSON lines; unknown
    names and a missing --read are argv errors, not tracebacks."""
    import json

    from conftest import SF_DIR
    from elastic_asset_etl_poc_spark.__main__ import main

    rc = main(["--query", "profile_orders", "--sf-dir", SF_DIR, "--limit", "10"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 4
    assert {json.loads(l)["col_name"] for l in out} == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    }

    assert main(["--query", "no_such_query"]) == 2
    assert main([]) == 2


def test_observed_metrics_ride_the_action(spark):
    """observe() metrics must reflect the rows that flowed through the
    plan during the action — including rows later filtered DOWNSTREAM of
    the observation point (the row-contract use: observe at the source,
    filter after, and the delta is the drop count)."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.observability import observed

    src = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    obs_df, obs = observed(
        src,
        "src_contract",
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.sum("id").alias("id_sum"),
    )
    kept = obs_df.filter(F.col("v").isNotNull()).count()
    got = obs.get
    assert kept == 90
    assert got["n_rows"] == 100       # observation saw pre-filter rows
    assert got["n_nonnull"] == 90
    assert got["id_sum"] == sum(range(100))


_DRIVER_MEM = """
import sys
sys.path.insert(0, {root!r})
from elastic_asset_etl_poc_spark.session import get_spark
spark = get_spark(master="local[1]")
print(spark.sparkContext.getConf().get("spark.driver.memory"))
spark.stop()
"""


def test_default_driver_heap_fits_the_host(tmp_path):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is sized from the
    host: a fresh session's spark.driver.memory is at most MemTotal."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver_mem.py"
    script.write_text(_DRIVER_MEM.format(root=root))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=300, env=env, cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    size = out.stdout.strip().splitlines()[-1].lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    heap = int(size[:-1]) * units[size[-1]] if size[-1] in units else int(size)
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    assert 0 < heap <= mem_kb * 1024
