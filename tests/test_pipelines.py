"""Pipeline-level tests over the sf0.001 fixtures + graph invariants."""

import datetime
import os
import shutil

import pytest
from conftest import SF_DIR

from elastic_asset_etl_poc_spark.plans.assets import collect_pods, collect_services
from elastic_asset_etl_poc_spark.plans.services import collect_services_from_summaries
from elastic_asset_etl_poc_spark.sinks import enforce_asset_schema
from elastic_asset_etl_poc_spark.schema import ASSET_COLUMNS


def test_flagship_pipeline_shape(spark):
    services, full = collect_services_from_summaries(spark, SF_DIR)
    assert services.columns == ["name", "environment", "last_seen"]
    n_services = services.count()
    assert n_services > 0
    # phase-1 keys are distinct (A1 dedup)
    assert services.select("name", "environment").distinct().count() == n_services
    # phase 2 only contains phase-1 services (J1 semi-join)
    p2_names = {r.name for r in full.select("name").distinct().collect()}
    p1_names = {r.name for r in services.select("name").distinct().collect()}
    assert p2_names <= p1_names
    # Q3: phase 2 NOT deduplicated — more rows than distinct services
    assert full.count() > full.select("name").distinct().count()
    # F5: every row found at least one parent candidate → never 'unknown'
    assert full.filter("parent_type = 'unknown'").count() == 0


def test_empty_window_pipelines(spark):
    services, full = collect_services_from_summaries(
        spark, SF_DIR, now=datetime.datetime(2020, 1, 1)
    )
    assert services.count() == 0
    assert full.count() == 0


def test_asset_graph_invariants(spark):
    services, containers = collect_services(spark, SF_DIR)
    s_rows = services.collect()
    c_rows = containers.collect()
    assert services.columns == ASSET_COLUMNS and containers.columns == ASSET_COLUMNS

    container_eans = {r["asset.ean"] for r in c_rows}
    service_eans = {r["asset.ean"] for r in s_rows}
    # J2: every service parent is a produced container asset
    for r in s_rows:
        for p in r["asset.parents"] or []:
            assert p in container_eans
    # and every container child is a produced service asset
    for r in c_rows:
        for ch in r["asset.children"] or []:
            assert ch in service_eans
        assert r["asset.children"], "container without children impossible (J2)"

    pods, nodes = collect_pods(spark, SF_DIR)
    p_rows, n_rows = pods.collect(), nodes.collect()
    node_eans = {r["asset.ean"] for r in n_rows}
    for r in p_rows:
        assert len(r["asset.parents"]) == 1  # lib/collectPods.ts:77
        assert r["asset.parents"][0] in node_eans
    pod_eans = {r["asset.ean"] for r in p_rows}
    collected = set()
    for r in n_rows:
        collected.update(r["asset.children"] or [])
    assert collected == pod_eans  # J3 children cover exactly the pods


def test_q5_limit_groups(spark):
    services, _ = collect_services(spark, SF_DIR, limit_groups=5)
    assert services.count() == 5


def test_sink_schema_enforcement(spark, tmp_path):
    services, containers = collect_services(spark, SF_DIR)
    out = enforce_asset_schema(services.unionByName(containers))
    assert out.columns == ASSET_COLUMNS
    path = str(tmp_path / "assets")
    out.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == services.count() + containers.count()


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25


def test_upsert_assets_latest_wins(spark, tmp_path):
    import datetime

    from elastic_asset_etl_poc_spark.sinks import upsert_assets
    from elastic_asset_etl_poc_spark.plans.assets import collect_services

    path = str(tmp_path / "assets_store")
    services, containers = collect_services(spark, SF_DIR)
    first = services.unionByName(containers)
    upsert_assets(spark, path, first)
    n_first = spark.read.parquet(path).count()
    assert n_first == first.count()

    # second run with a later pinned now: same EANs, newer timestamps
    s2, c2 = collect_services(spark, SF_DIR, now=datetime.datetime(2024, 2, 1))
    upsert_assets(spark, path, s2.unionByName(c2))
    back = spark.read.parquet(path)
    assert back.count() == n_first  # same key set -> no duplicates
    stamps = {r[0] for r in back.select("`@timestamp`").distinct().collect()}
    assert stamps == {datetime.datetime(2024, 2, 1)}  # latest state won


def test_upsert_assets_partition_scoped(spark, tmp_path):
    """A batch touching only asset.type=service must not rewrite the
    container partition's files (dynamic partition overwrite)."""
    import datetime
    import os

    from elastic_asset_etl_poc_spark.plans.assets import collect_services
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    path = str(tmp_path / "assets_store")
    services, containers = collect_services(spark, SF_DIR)
    upsert_assets(spark, path, services.unionByName(containers))

    cdir = os.path.join(path, "asset.type=container")

    def snapshot(d):
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        }

    before = snapshot(cdir)
    n_containers = spark.read.parquet(path).filter(
        "`asset.type` = 'container'"
    ).count()

    s2, _ = collect_services(spark, SF_DIR, now=datetime.datetime(2024, 2, 1))
    upsert_assets(spark, path, s2)  # services only

    assert snapshot(cdir) == before  # untouched partition: same files, same mtimes
    back = spark.read.parquet(path)
    assert back.filter("`asset.type` = 'container'").count() == n_containers
    svc_stamps = {
        r[0]
        for r in back.filter("`asset.type` = 'service'")
        .select("`@timestamp`")
        .distinct()
        .collect()
    }
    assert svc_stamps == {datetime.datetime(2024, 2, 1)}


def test_upsert_assets_propagates_store_read_errors(spark, tmp_path):
    """A corrupt (but existing) store must raise, never be silently
    replaced by the new batch."""
    import os

    import pytest

    from elastic_asset_etl_poc_spark.plans.assets import collect_services
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    path = str(tmp_path / "assets_store")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "w") as f:
        f.write("not a parquet file")
    services, _ = collect_services(spark, SF_DIR)
    with pytest.raises(Exception):
        upsert_assets(spark, path, services)
    # the corrupt marker survived — nothing was overwritten
    with open(os.path.join(path, "part-00000.parquet")) as f:
        assert f.read() == "not a parquet file"


def test_upsert_assets_empty_first_batch_is_a_noop(spark, tmp_path):
    """An empty batch reads and writes nothing: an empty first upsert
    followed by a non-empty one leaves the store the non-empty upsert
    alone leaves (an empty first write used to leave a store with no
    schema, which the next upsert could not read)."""
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    services, containers = collect_services(spark, SF_DIR)
    batch = services.unionByName(containers)
    alone = str(tmp_path / "alone")
    after_empty = str(tmp_path / "after_empty")
    upsert_assets(spark, alone, batch)
    upsert_assets(spark, after_empty, batch.limit(0))
    assert not os.path.exists(after_empty)
    upsert_assets(spark, after_empty, batch)

    def rows(path):
        return sorted(map(repr, spark.read.parquet(path).collect()))

    assert rows(after_empty) == rows(alone)
    assert len(rows(alone)) == batch.count()


def test_upsert_assets_evaluates_a_warm_batch_once(spark, tmp_path):
    """On an existing store the batch's plan runs once: a Python UDF on
    ``asset.type`` (a column the touched-partition set reads) tallies
    exactly one call per batch row."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    services, containers = collect_services(spark, SF_DIR)
    batch = services.unionByName(containers)
    path = str(tmp_path / "assets_store")
    upsert_assets(spark, path, batch)  # the store exists from here on

    calls = spark.sparkContext.accumulator(0)

    def tally(asset_type):
        calls.add(1)
        return asset_type

    counted = batch.withColumn(
        "asset.type", F.udf(tally, "string")(F.col("`asset.type`"))
    )
    upsert_assets(spark, path, counted)
    assert calls.value == batch.count()


def test_upsert_assets_releases_its_checkpoints(spark, tmp_path):
    """The batch and store checkpoints of an upsert are released when it
    returns: over consecutive warm upserts no persisted RDD is left
    behind, so a long-lived upsert loop holds no blocks between calls."""
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    services, containers = collect_services(spark, SF_DIR)
    batch = services.unionByName(containers)
    path = str(tmp_path / "assets_store")
    upsert_assets(spark, path, batch)
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    start = persisted()
    for _ in range(5):
        before = persisted()
        upsert_assets(spark, path, batch)
        assert persisted() - before == set()
    assert len(persisted()) <= len(start)


def test_signals_view_matches_oracle_cte(spark):
    """Every signal field of every sf0.01 event, NULLs included, equals
    the DuckDB derivation the query oracles share."""
    from oracle_check import duck_connect, normalize

    from elastic_asset_etl_poc_spark.sources.signals import (
        SIGNAL_FIELDS,
        SIGNALS_ORACLE_CTE,
        signals_view,
    )

    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    got = signals_view(spark, sf_dir).selectExpr(
        *[f"`{dotted}` AS {flat}" for dotted, flat in SIGNAL_FIELDS]
    )
    assert got.columns == [flat for _, flat in SIGNAL_FIELDS]
    cur = duck_connect(sf_dir).execute(
        f"WITH {SIGNALS_ORACLE_CTE} SELECT * FROM signals"
    )
    want_cols = [d[0] for d in cur.description]
    want = normalize(cur.fetchall(), want_cols)
    assert want_cols == got.columns
    assert len(want) == 10000
    assert normalize(got.collect(), got.columns) == want


def test_asset_collectors_see_appended_event_files(spark, tmp_path):
    """collect_services/collect_pods cache their collapsed top frames.
    Events files landing in the events directory must show in the next
    collect (the reader refreshes the path's caches when its stamp
    changes), not be served from the cache of the earlier read."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    events = events.take(pc.sort_indices(events["ts"]))
    half = events.num_rows // 2
    d = tmp_path / "events.parquet"
    d.mkdir()
    pq.write_table(events.slice(0, half), str(d / "part-0.parquet"))
    late = tmp_path / "part-1.parquet"  # the newest events, held out
    pq.write_table(events.slice(half), str(late))

    def collect():
        out = []
        for services_and_containers in (
            collect_services(spark, str(tmp_path)),
            collect_pods(spark, str(tmp_path)),
        ):
            for df in services_and_containers:
                out.append(sorted(map(repr, df.collect())))
        return out

    try:
        early = collect()
        os.replace(late, d / "part-1.parquet")
        after = collect()
        spark.catalog.clearCache()
        fresh = collect()
    finally:
        spark.catalog.clearCache()
    assert early != fresh  # the held-out file changes the assets
    assert after == fresh


def test_asset_collector_frames_are_sized_by_aqe(spark):
    """AQE may coalesce the collectors' cached top frames: after a warm
    call the asset frames hold at most defaultParallelism partitions,
    not the pre-AQE ``spark.sql.shuffle.partitions`` (32)."""
    for _ in range(2):  # the cold call caches the top frames
        frames = [*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)]
        for df in frames:
            df.count()
    width = spark.sparkContext.defaultParallelism
    services, _, pods, _ = frames
    assert services.rdd.getNumPartitions() <= width
    assert pods.rdd.getNumPartitions() <= width


def test_asset_collectors_hold_one_frame_per_window(spark):
    """Ticks with an advancing ``now`` each cache a new top frame per
    collector; the superseded one is released, so the persisted RDDs
    stay flat over the ticks.  A call for the held window serves it.
    The ticks start after a cache clear while the memo holds the first
    window, so the count does not depend on what earlier tests left."""
    from elastic_asset_etl_poc_spark.plans.services import PINNED_NOW
    from elastic_asset_etl_poc_spark.sources.registry import memo_counts

    jsc = spark.sparkContext._jsc

    def tick(now):
        services = collect_services(spark, SF_DIR, now=now)
        for df in (*services, *collect_pods(spark, SF_DIR, now=now)):
            df.count()
        return jsc.getPersistentRDDs().size()

    nows = [PINNED_NOW + datetime.timedelta(minutes=m) for m in range(4)]
    tick(nows[0])
    spark.catalog.clearCache()
    persisted = [tick(now) for now in nows]
    assert persisted == [persisted[0]] * 4
    built, served = memo_counts(spark)
    assert tick(nows[-1]) == persisted[0]
    assert memo_counts(spark) == (built, served + 2)


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_asset_tick_job_counts(spark, tmp_path):
    """The collectors memoize their finished asset frames: a warm
    collector call runs no Spark job and returns the held, cached
    frames, and a warm upsert of the four onto an existing store runs
    at most 4 jobs (batch checkpoint, store-partition checkpoint, the
    dedup shuffle and the write; 9 when the memo held only the collapsed
    tops and the store read inferred its schema)."""
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    def union(frames):
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df)
        return out

    path = str(tmp_path / "assets_store")
    cold = [*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)]
    upsert_assets(spark, path, union(cold))  # materializes the frames
    warm: list = []

    def collect():
        warm.extend([*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)])

    assert _jobs_in(spark, "warm_collectors", collect) == 0
    assert all(df.storageLevel.useMemory for df in warm)
    n = _jobs_in(spark, "warm_upsert", lambda: upsert_assets(spark, path, union(warm)))
    assert n <= 4, n


def _file_scans(plan) -> int:
    """Parquet/ORC/... file scans an executed plan runs, AQE stages
    opened.  A cached relation's fill plan is not a child of its
    in-memory scan, so a read of a filled cache counts none."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _file_scans(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _file_scans(plan.plan())
    kids = plan.children()
    own = int(name == "FileSourceScanExec")
    return own + sum(_file_scans(kids.apply(i)) for i in range(kids.size()))


def test_warm_phase_pair_reads_the_cached_signal_window(spark):
    """Both phase frames read the tick's cached signal window: their
    executed plans run no events file scan (a direct read runs 1 in
    phase 1 and 2 in phase 2, whose broadcast side re-runs phase 1)."""
    for _ in range(2):  # the cold pair fills the window
        frames = collect_services_from_summaries(spark, SF_DIR)
        for df in frames:
            df.collect()
    plans = [df._jdf.queryExecution().executedPlan() for df in frames]
    assert [_file_scans(p) for p in plans] == [0, 0]


def test_cold_tick_scans_events_once(spark):
    """A cold tick over a fresh memo (both phase frames and the four
    asset frames) reads each events row once: its first job fills the
    signal window, and every later read is of the window's cached
    batches, which the input metrics count as one record each.  With a
    scan per reader the tick read the events file 6 times."""
    import pyarrow.parquet as pq
    from perfbench.spans import Tracer

    from elastic_asset_etl_poc_spark.sources.registry import clear

    meta = pq.ParquetFile(os.path.join(SF_DIR, "events.parquet")).metadata
    assert meta.num_row_groups == 1  # so no time range prunes the scan
    clear(spark)
    tracer = Tracer(spark)
    with tracer.span("tick", op="tick") as span:
        for df in collect_services_from_summaries(spark, SF_DIR):
            df.write.format("noop").mode("overwrite").save()
        for df in (*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)):
            df.count()
    rows = tracer.figures(span)["input_rows"]
    assert meta.num_rows <= rows < 2 * meta.num_rows, rows


def test_signal_window_held_once_over_advancing_ticks(spark):
    """Ticks with an advancing ``now`` through the phase pipeline and
    both collectors each fill a new signal window and release the
    superseded one, so the persisted RDDs stay flat over the ticks."""
    from elastic_asset_etl_poc_spark.plans.services import PINNED_NOW

    jsc = spark.sparkContext._jsc

    def tick(now):
        for df in collect_services_from_summaries(spark, SF_DIR, now=now):
            df.write.format("noop").mode("overwrite").save()
        for df in (
            *collect_services(spark, SF_DIR, now=now),
            *collect_pods(spark, SF_DIR, now=now),
        ):
            df.count()
        return jsc.getPersistentRDDs().size()

    persisted = [tick(PINNED_NOW + datetime.timedelta(minutes=m)) for m in range(4)]
    assert persisted == [persisted[0]] * 4


def test_table_rewritten_in_place_is_read_afresh(spark, tmp_path):
    """A directory table is stamped by its data files: a part file
    rewritten in place, under the same name and with the directory's
    mtime and size unchanged, reaches the collectors and the phase
    pipeline, whose rows then equal a fresh session's over the new
    files."""
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    d = tmp_path / "events.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(events.slice(0, events.num_rows // 2), str(part))
    sf = str(tmp_path)

    def rows(session):
        frames = [
            *collect_services_from_summaries(session, sf),
            *collect_services(session, sf),
            *collect_pods(session, sf),
        ]
        return [sorted(map(repr, df.collect())) for df in frames]

    before = rows(spark)
    dir_stat = os.stat(d)
    pq.write_table(events, str(part))  # in place: all rows
    assert os.stat(d).st_mtime_ns == dir_stat.st_mtime_ns
    assert os.stat(d).st_size == dir_stat.st_size
    try:
        after = rows(spark)
        spark.catalog.clearCache()  # the cache is shared by all sessions
        fresh = rows(spark.newSession())
    finally:
        spark.catalog.clearCache()
    assert before != fresh
    assert after == fresh


def test_upsert_store_read_with_declared_schema(spark, tmp_path):
    """The upsert reads its store with the declared asset schema: after
    two upserts, that read equals a read that infers the schema, rows and
    column types both."""
    from elastic_asset_etl_poc_spark.schema import SIMPLE_ASSET_SCHEMA
    from elastic_asset_etl_poc_spark.sinks import upsert_assets

    services, containers = collect_services(spark, SF_DIR)
    pods, nodes = collect_pods(spark, SF_DIR)
    path = str(tmp_path / "assets_store")
    upsert_assets(spark, path, services.unionByName(containers))
    upsert_assets(spark, path, pods.unionByName(nodes).unionByName(services))
    declared = spark.read.schema(SIMPLE_ASSET_SCHEMA).parquet(path)
    inferred = spark.read.parquet(path)
    assert sorted(declared.dtypes) == sorted(inferred.dtypes)
    cols = sorted(inferred.columns)

    def rows(df):
        return sorted(map(repr, df.select(*[f"`{c}`" for c in cols]).collect()))

    assert rows(declared) == rows(inferred)
    assert len(rows(inferred)) == sum(
        df.count() for df in (services, containers, pods, nodes)
    )


def test_memo_rebuilds_after_table_rewrite(spark, tmp_path):
    """The session memo stamps each artifact with the file identity of
    its tables: after documents and embeddings are rewritten, the
    memoized near-dup pairs and IVF centroids are rebuilt, and both
    queries match their oracles on the new files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from oracle_check import duck_connect, normalize

    from elastic_asset_etl_poc_spark import suite
    from elastic_asset_etl_poc_spark.sources.registry import memo_counts

    for f in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, f), tmp_path / f)
    sf = str(tmp_path)
    qs = suite.queries()
    oracles = {
        "jaccard_neardup_docs": suite.oracle_sql()["jaccard_neardup_docs"],
        # the suite's literal row states 5 query vectors (ids 0-4); on a
        # rewritten corpus the count of those ids still present replaces it
        "embed_knn_ivf": "SELECT count(*) AS n_queries, 10 AS k, "
        "true AS recall_at_k_ge_060 FROM embeddings WHERE vec_id < 5",
    }

    def check():
        con = duck_connect(sf)
        built, served = memo_counts(spark)
        for name, sql in oracles.items():
            df = qs[name](spark, sf)
            cur = con.execute(sql)
            want = normalize(cur.fetchall(), [d[0] for d in cur.description])
            assert normalize(df.collect(), df.columns) == want, name
        # one build each (pairs, centroids), nothing served from before
        assert memo_counts(spark) == (built + 2, served)

    check()
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        path = tmp_path / f"{table}.parquet"
        rows = pq.read_table(path)
        even = pc.equal(pc.bit_wise_and(rows[key], 1), 0)
        pq.write_table(rows.filter(even), path)
    check()


def test_memo_clear_releases_checkpoints_and_dirs(spark):
    """clear(spark) frees a memoized checkpoint's blocks, removes the
    memo's temp dirs, and makes the next call build, not serve."""
    from elastic_asset_etl_poc_spark import suite
    from elastic_asset_etl_poc_spark.sources.registry import clear, memo_counts

    qs = suite.queries()
    for _ in range(2):  # the cold call builds, the warm call serves
        pairs = qs["jaccard_neardup_docs"](spark, SF_DIR)
        qs["minhash_incremental_docs"](spark, SF_DIR)
    store = suite._minhash_store(spark, SF_DIR)
    rdd_id = pairs._jdf.queryExecution().analyzed().rdd().id()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().containsKey(rdd_id)
    assert os.path.isdir(store)

    clear(spark)
    assert not jsc.getPersistentRDDs().containsKey(rdd_id)
    assert not os.path.exists(store)
    built, served = memo_counts(spark)
    qs["jaccard_neardup_docs"](spark, SF_DIR)
    assert memo_counts(spark) == (built + 1, served)


def test_memo_rebuilds_a_frame_whose_cache_was_dropped(spark):
    """A memo entry whose ``.cache()``d frame lost its cache to
    ``catalog.clearCache`` is stale: the next call builds again and
    returns a cached frame, rather than serve a frame every action would
    recompute."""
    from elastic_asset_etl_poc_spark.sources.registry import memo, memo_counts

    def build():
        return spark.range(10).selectExpr("id * 7 AS v").cache()

    memo(spark, "test.dropped_cache", SF_DIR, [], build).count()
    assert memo(spark, "test.dropped_cache", SF_DIR, [], build).storageLevel.useMemory
    spark.catalog.clearCache()
    built, served = memo_counts(spark)
    df = memo(spark, "test.dropped_cache", SF_DIR, [], build)
    assert memo_counts(spark) == (built + 1, served)
    assert df.storageLevel.useMemory


def test_collectors_rebuild_after_cache_clear(spark):
    """After ``catalog.clearCache`` the collectors' held frames are
    rebuilt, not served uncached: the next ``collect_services`` +
    ``collect_pods`` call builds at least both collectors' entries and
    returns cached frames."""
    from elastic_asset_etl_poc_spark.sources.registry import memo_counts

    for _ in range(2):
        for df in (*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)):
            df.count()
    spark.catalog.clearCache()
    built, _ = memo_counts(spark)
    frames = [*collect_services(spark, SF_DIR), *collect_pods(spark, SF_DIR)]
    assert memo_counts(spark)[0] >= built + 2
    assert all(df.storageLevel.useMemory for df in frames)


def test_missing_table_path_leaves_no_reader_state(spark, tmp_path):
    """A table whose path does not exist is read uncached: the reader
    memo gains no entry, not even an empty one for the session."""
    from pyspark.errors import AnalysisException

    from elastic_asset_etl_poc_spark.sources import registry

    session = spark.newSession()
    with pytest.raises(AnalysisException):
        registry.load_table(session, str(tmp_path), "orders")
    assert session not in registry._RAW_FRAMES


def test_write_bulk_ndjson_roundtrip(spark, tmp_path):
    import glob
    import json

    from elastic_asset_etl_poc_spark.sinks import write_bulk_ndjson

    def export(df, name, **kw):
        out = str(tmp_path / name)
        write_bulk_ndjson(df, out, **kw)
        docs = []
        for f in sorted(glob.glob(out + "/part-*")):
            with open(f) as fh:
                docs += [json.loads(l) for l in fh.read().splitlines() if l]
        return docs[0::2], docs[1::2]  # (action lines, source lines)

    df = spark.createDataFrame(
        [(1, 'quo"te'), (2, "plain")], "doc_id long, text string"
    )
    actions, sources = export(df, "bulk", index="docs-v1", id_col="doc_id")
    assert len(actions) == len(sources) == 2  # action + source per doc
    assert {a["index"]["_index"] for a in actions} == {"docs-v1"}
    assert sorted(a["index"]["_id"] for a in actions) == ["1", "2"]
    by_id = {s["doc_id"]: s["text"] for s in sources}
    assert by_id[1] == 'quo"te'  # escaping survives the concat
    # action i must precede its own source line
    for a, s in zip(actions, sources):
        assert a["index"]["_id"] == str(s["doc_id"])

    # the asset documents themselves: dotted names such as `asset.ean`
    # are column names, not struct-field paths
    services, _ = collect_services(spark, SF_DIR)
    assets = enforce_asset_schema(services)
    n = assets.count()
    assert n > 0
    actions, sources = export(assets, "bulk_assets", index="assets", id_col="asset.ean")
    assert len(actions) == len(sources) == n
    assert [a["index"]["_id"] for a in actions] == [s["asset.ean"] for s in sources]
    assert all(set(s) <= set(ASSET_COLUMNS) for s in sources)
    assert {s["asset.type"] for s in sources} == {"service"}
    actions, sources = export(assets, "bulk_assets_noid", index="assets")
    assert [a["index"] for a in actions] == [{"_index": "assets"}] * n
    assert sorted(s["asset.ean"] for s in sources) == sorted(
        r[0] for r in assets.select("`asset.ean`").collect()
    )


def test_flagship_observations(spark):
    """§2.11 in-flight metrics: with observe=True the pipeline's two
    phase frames carry Observations that ride the SAME action that
    materializes them (no extra pass), and the flagship's data contract
    holds — phase-1 names are never NULL (they become phase-2's IN-list)
    and phase-2 event ids / parent types are never NULL (sink doc ids).
    Cross-checked against independently-computed counts."""
    from elastic_asset_etl_poc_spark.plans import services as svc

    services, full = svc.collect_services_from_summaries(
        spark, SF_DIR, observe=True
    )
    # Observation.get blocks until an action touches the observed frame
    n1, n2 = services.count(), full.count()
    obs1 = svc.LAST_OBSERVATIONS["phase1"].get
    obs2 = svc.LAST_OBSERVATIONS["phase2"].get
    assert obs1["n_services"] == n1 > 0
    assert obs1["null_names"] == 0
    assert obs2["n_rows"] == n2 > 0
    assert obs2["null_event_ids"] == 0
    assert obs2["null_parent_types"] == 0


def test_entry_returns_with_observations(spark):
    """entry() itself runs the observe=True path: after the driver-style
    collect, LAST_OBSERVATIONS carries both phases' metrics."""
    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.plans import services as svc

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # phase-2 metrics rode the collect above; phase-1's rode its own
    # materialization inside the pipeline (IN-list build)
    assert svc.LAST_OBSERVATIONS["phase2"].get["n_rows"] == len(rows)
    assert svc.LAST_OBSERVATIONS["phase1"].get["null_names"] == 0
