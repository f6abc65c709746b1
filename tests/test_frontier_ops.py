"""Unit tests for the round-11 frontier operators: skyline_2d,
bfs_khop, prefix_filter_pairs, pmi_cooccur."""

import math
import os

import pyspark.sql.functions as F
import pytest

from elastic_asset_etl_poc_spark.operators.graph import bfs_khop
from elastic_asset_etl_poc_spark.operators.neardup import (
    jaccard_pairs,
    prefix_filter_pairs,
)
from elastic_asset_etl_poc_spark.operators.profile import skyline_2d
from elastic_asset_etl_poc_spark.operators.text import pmi_cooccur


def test_skyline_hand_computed(spark):
    """price↓/size↑ frontier: (1,5) dominates (2,5) and (1,3);
    (3,8) survives (bigger than every cheaper point); the duplicate
    of (1,5) folds into n_dup=2; (3,8) twin also counted."""
    rows = [(1.0, 5), (1.0, 5), (2.0, 5), (1.0, 3), (3.0, 8), (3.0, 8), (4.0, 7)]
    df = spark.createDataFrame(rows, ["price", "size"])
    got = {
        (r["price"], r["size"]): r["n_dup"]
        for r in skyline_2d(df, "price", "size").collect()
    }
    assert got == {(1.0, 5): 2, (3.0, 8): 2}


def test_skyline_equal_price_keeps_only_best(spark):
    """At the same price, only the max size survives (strict dominance
    on the other dim)."""
    df = spark.createDataFrame([(1.0, 1), (1.0, 9)], ["price", "size"])
    got = [(r["price"], r["size"]) for r in skyline_2d(df, "price", "size").collect()]
    assert got == [(1.0, 9)]


def test_bfs_khop_min_distance_and_early_exit(spark):
    """Path a-b-c-d plus shortcut a-c: c must get dist 1 (via the
    shortcut, not 2 via b); e is unreachable and absent; rounds stop
    early once the frontier drains (k=10 on a diameter-2 reach)."""
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_khop(edges, seeds, k=10).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_khop_respects_bound(spark):
    """k=1 must not reach two hops out."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_khop(edges, seeds, k=1).collect()}
    assert got == {"a": 0, "b": 1}


def _python_bfs(und, seeds, k):
    adj = {}
    for x, y in und:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, k + 1):
        frontier = {y for x in frontier for y in adj.get(x, ())} - dist.keys()
        dist.update((y, d) for y in frontier)
    return dist


def _random_graph():
    import random

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(60)]
    und = {tuple(rng.sample(nodes, 2)) for _ in range(80)}
    return sorted(und), ["n0", "n1", "n2"], 3


@pytest.mark.parametrize(
    "und,seeds,k",
    [
        ([("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")], ["a"], 10),
        ([("a", "b"), ("b", "c")], ["a"], 1),
        _random_graph(),
    ],
    ids=["shortcut", "bound", "random"],
)
def test_bfs_khop_shuffled_path_equals_broadcast(spark, monkeypatch, und, seeds, k):
    """Bound 0 sends every frontier and visited join through the
    shuffled path; it must equal the broadcast path and a Python BFS."""
    from elastic_asset_etl_poc_spark.operators import graph

    edges = spark.createDataFrame(und + [(y, x) for x, y in und], ["src", "dst"])
    seed_df = spark.createDataFrame([(s,) for s in seeds], ["node"])

    def reach():
        return {r["node"]: r["dist"] for r in bfs_khop(edges, seed_df, k=k).collect()}

    want = _python_bfs(und, seeds, k)
    assert len(want) > len(seeds)
    assert reach() == want
    monkeypatch.setattr(graph, "MAX_BROADCAST_NODES", 0)
    assert reach() == want


def test_bfs_khop_custsupp_job_count(spark):
    """A warm bfs_khop_custsupp call (the session's edge memo built)
    runs 13 Spark jobs at sf0.001: both round joins broadcast their
    observed-small node sets, and the query reads the shared
    customer–supplier edges instead of building its own (23 jobs with
    a private edge build per call and shuffled round joins)."""
    from conftest import SF_DIR

    from elastic_asset_etl_poc_spark import suite

    fn = suite.queries()["bfs_khop_custsupp"]
    want = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    sc = spark.sparkContext
    grp = "bfs_khop_custsupp_warm"
    sc.setJobGroup(grp, grp)
    try:
        got = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    finally:
        sc.setJobGroup(None, None)
    assert got == want
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(grp))
    assert n_jobs <= 13, n_jobs


_SESSION_RESTART = """
import os, sys
tests = {tests!r}
sys.path[:0] = [os.path.dirname(tests), tests]
from elastic_asset_etl_poc_spark import suite
from elastic_asset_etl_poc_spark.session import get_spark
from oracle_check import duck_connect, normalize

sf = {sf!r}
con, qs, osql = duck_connect(sf), suite.queries(), suite.oracle_sql()
for attempt in range(2):
    spark = get_spark(master="local[2]")
    for name in (
        "pagerank_cust_supp",
        "bfs_khop_custsupp",
        "hits_cust_supp",
        "jaccard_neardup_docs",
        "rrf_fusion_docs",
        "kmv_overlap_sources",
        "entity_clusters_incr_parts",
        "embed_knn_ivf",
        "embed_knn_pq",
        "embed_knn_ivfpq",
        "embed_knn_ivfpq_incr",
        "embed_knn_ivf_incr",
        "mutual_knn_ivf",
        "classifier_calibration_docs",
        "minhash_incremental_docs",
        "svc_phase1_streaming",
        "csv_scan_orders",
    ):
        df = qs[name](spark, sf)
        cur = con.execute(osql[name])
        want = normalize(cur.fetchall(), [d[0] for d in cur.description])
        assert normalize(df.collect(), df.columns) == want, (attempt, name)
    spark.stop()
print("ok")
"""


def test_edge_memo_survives_session_restart(tmp_path):
    """One consumer of each kind of memoized artifact (checkpointed
    edges, pair and shingle frames, centroids, codebooks, model rows,
    band stores, staged fixtures) matches its oracle; after the session
    is stopped and created again each must rebuild its artifact in the
    new session and still match, not read a checkpoint of the dead
    session.  Runs in a subprocess so the shared test session is
    untouched."""
    import subprocess
    import sys

    from conftest import SF_DIR

    script = tmp_path / "restart.py"
    script.write_text(
        _SESSION_RESTART.format(
            tests=os.path.dirname(os.path.abspath(__file__)), sf=SF_DIR
        )
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")


def test_prefix_filter_equals_exact_join(spark):
    """Lossless candidates: prefix filtering must return exactly the
    pairs the full inverted-index join returns, on a corpus with
    near-dups, exact dups, and unrelated docs."""
    texts = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),
        (4, "completely different words about spark and parquet files"),
        (5, "entirely other content mentioning ducks and databases here"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_pairs(df, threshold=0.6, n=2).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, threshold=0.6, n=2, max_doc_freq=None
        ).collect()
    }
    assert pf == exact
    assert (1, 3) in pf and pf[(1, 3)] == 1.0


def test_prefix_filter_equals_exact_join_under_tripped_cap(spark):
    """The equality contract must survive the doc-frequency cap
    actually FIRING: with max_doc_freq=2 on a corpus where the shared
    boilerplate 2-grams appear in 4 docs, both paths must drop the hot
    shingles from every set (identical jaccard denominators) — the
    regression this pins is prefix_filter_pairs building UNCAPPED sets
    while jaccard_pairs and the suite oracle cap, which diverges on
    any corpus with a >cap shingle."""
    texts = [
        (1, "alpha beta gamma delta epsilon unique one"),
        (2, "alpha beta gamma delta epsilon unique two"),
        (3, "alpha beta gamma delta epsilon unique three"),
        (4, "alpha beta gamma delta epsilon unique four"),
        (5, "totally unrelated content about parquet row groups here"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    kw = dict(threshold=0.3, n=2, max_doc_freq=2)
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_pairs(df, **kw).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, **kw).collect()
    }
    assert pf == exact
    # sanity that the cap actually fired: uncapped disagrees
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, threshold=0.3, n=2, max_doc_freq=None
        ).collect()
    }
    assert uncapped != exact


def test_pmi_hand_computed(spark):
    """4 docs; x and y co-occur in both of their docs (df=2 each,
    n_ab=2): PMI = ln(2·4/(2·2)) = ln 2.  Filler tokens are made
    unique per doc so the vocab cap keeps x/y."""
    rows = [
        (1, "x y a1 b1"),
        (2, "x y a2 b2"),
        (3, "p q a3 b3"),
        (4, "p r a4 b4"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["term_a"], r["term_b"]): (r["n_ab"], r["pmi"])
        for r in pmi_cooccur(df, vocab_size=30, top_k=50).collect()
    }
    n_ab, pmi = got[("x", "y")]
    assert n_ab == 2
    assert pmi == pytest.approx(round(math.log(2.0), 4))
    # p/q co-occur once with df(p)=2: PMI = ln(1·4/(2·1)) = ln 2 too
    assert got[("p", "q")][0] == 1


def test_kcore_hand_computed(spark):
    """Triangle {a,b,c} plus a pendant chain c-d-e: the 2-core is
    exactly the triangle (d's degree drops to 1 once e is peeled —
    the CASCADE a one-shot degree filter misses: d starts at degree
    2)."""
    import pyspark.sql.functions as F

    from elastic_asset_etl_poc_spark.operators.graph import kcore_membership

    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(und, ["src", "dst"])
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_membership(edges, k=2).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_raises_past_round_bound(spark):
    """A long chain peels one node per round from each end at k=2 —
    max_rounds=2 must RAISE (the unrolled-oracle self-audit), not
    silently return a non-fixpoint."""
    import pytest as _pytest

    from elastic_asset_etl_poc_spark.operators.graph import kcore_membership

    chain = [(str(i), str(i + 1)) for i in range(12)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        kcore_membership(edges, k=2, max_rounds=2)


def test_kcore_releases_superseded_checkpoints(spark):
    """A triangle with a 5-node pendant chain peels one chain node per
    round at k=2 (5 peel rounds, then a 6th that finds the triangle
    stable: 12 checkpoints): after the call at most two more RDDs are
    persisted — the superseded rounds' local checkpoints are released,
    not left to pile up per call."""
    from elastic_asset_etl_poc_spark.operators.graph import kcore_membership

    und = [("a", "b"), ("b", "c"), ("a", "c")] + [
        (x, y) for x, y in zip("cdefg", "defgh")
    ]
    edges = spark.createDataFrame(und, ["src", "dst"])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_membership(edges, k=2).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}
    assert jsc.getPersistentRDDs().size() - before <= 2


def test_kcore_shuffled_semi_join_fallback_equals_broadcast(spark, monkeypatch):
    """The size-gated survivor filter: bound 0 sends EVERY round's
    survivor semi-joins through the shuffled path; results must equal
    the broadcast path exactly (row equality is the contract, not plan
    equality)."""
    from elastic_asset_etl_poc_spark.operators import graph

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (4, 6), (6, 7)]
    edges = spark.createDataFrame(und, ["src", "dst"])

    def core():
        return {
            r["node"]: r["core_degree"]
            for r in graph.kcore_membership(edges, k=2).collect()
        }

    want = core()
    assert want  # the 1-2-3 and 3-4-5 triangles survive
    monkeypatch.setattr(graph, "MAX_BROADCAST_NODES", 0)
    assert core() == want, "fallback diverged"


def test_label_propagation_finds_planted_communities(spark):
    """Two dense cliques joined by a single bridge edge: 3 rounds of
    deterministic LPA must give each clique one label (the smallest
    member id — min tie-break propagates the minimum through dense
    groups) and must NOT merge them across the bridge."""
    from elastic_asset_etl_poc_spark.operators.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    g1 = [f"a{i}" for i in range(6)]
    g2 = [f"b{i}" for i in range(6)]
    und = clique(g1) + clique(g2) + [("a0", "b0"), ("b0", "a0")]
    edges = spark.createDataFrame(und, ["src", "dst"]).repartition(3)
    got = {
        r.node: r.label
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert {got[n] for n in g1} == {"a0"}
    assert {got[n] for n in g2} == {"b0"}


def test_label_propagation_deterministic_across_partitions(spark):
    """Sync update + min tie-break: the result is a pure function of
    the edge set, independent of partitioning."""
    from elastic_asset_etl_poc_spark.operators.graph import label_propagation

    und = [("x1", "x2"), ("x2", "x1"), ("x2", "x3"), ("x3", "x2"),
           ("x3", "x4"), ("x4", "x3")]
    runs = []
    for n in (1, 7):
        edges = spark.createDataFrame(und, ["src", "dst"]).repartition(n)
        runs.append(sorted(
            (r.node, r.label)
            for r in label_propagation(edges, rounds=3).collect()
        ))
    assert runs[0] == runs[1]


def test_label_propagation_audit_churn(spark):
    """audit_churn adds the final-round ``changed`` flag: on a clique
    that stabilizes in round 1, extra rounds report zero churn; on a
    path graph still refining at rounds=1, the flag captures exactly
    the nodes whose round-1 label differs from their initial label."""
    from elastic_asset_etl_poc_spark.operators.graph import label_propagation

    ids = [f"a{i}" for i in range(5)]
    und = [(a, b) for a in ids for b in ids if a != b]
    edges = spark.createDataFrame(und, ["src", "dst"])
    rows = label_propagation(edges, rounds=3, audit_churn=True).collect()
    assert all(r.label == "a0" for r in rows)
    assert not any(r.changed for r in rows)  # converged before round 3

    path = [("x1", "x2"), ("x2", "x1"), ("x2", "x3"), ("x3", "x2")]
    pe = spark.createDataFrame(path, ["src", "dst"])
    r1 = {
        r.node: r.changed
        for r in label_propagation(pe, rounds=1, audit_churn=True).collect()
    }
    # round 1: x2 and x3 adopt x1's/x2's smaller label; x1 keeps its own
    assert r1 == {"x1": False, "x2": True, "x3": True}


def test_containment_prefix_equals_exact_join(spark):
    """Containment prefix filter is lossless on the doc-inside-doc
    shape Jaccard misses: a short doc fully embedded in a long one
    must surface with containment 1.0 from BOTH paths, identically."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    long = (
        "the quick brown fox jumps over the lazy dog while "
        "seventeen additional clauses pad this document with "
        "unrelated filler about parquet row groups and shuffles"
    )
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, long),
        (3, "entirely other content mentioning ducks and databases here"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    kw = dict(threshold=0.5, n=2)
    pf = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_prefix_pairs(df, **kw).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(df, **kw).collect()
    }
    assert pf == exact
    assert (1, 2) in pf
    assert pf[(1, 2)][0] == 1.0  # fully contained
    assert pf[(1, 2)][1] < 0.5  # the pair a Jaccard pass misses


def test_containment_prefix_equals_exact_join_under_tripped_cap(spark):
    """The bit-equality contract must survive the doc-frequency cap
    actually firing — both paths drop the hot shingles from every set
    so containment/jaccard denominators stay identical."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon unique one"),
        (2, "alpha beta gamma delta epsilon unique two"),
        (3, "alpha beta gamma delta epsilon unique three"),
        (4, "alpha beta gamma delta epsilon unique four"),
        (5, "totally unrelated content about parquet row groups here"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    kw = dict(threshold=0.3, n=2, max_doc_freq=2)
    pf = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_prefix_pairs(df, **kw).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(df, **kw).collect()
    }
    assert pf == exact
    uncapped = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(
            df, threshold=0.3, n=2, max_doc_freq=None
        ).collect()
    }
    assert uncapped != exact


def test_kcore_stable_graph_converges_in_one_observed_round(spark):
    """r17 fixpoint fold: the node/below-k counts ride the degree
    checkpoint job as observe metrics, and zero-below-k exits WITHOUT
    the old extra confirmation round.  On an already-stable graph (a
    triangle at k=2) that is exactly TWO jobs — the edge checkpoint and
    the single degree checkpoint — where the old shape needed a count
    action per round plus one whole extra peel+recount round.  Pinned
    via the job-group job count (deterministic for a fixed code path)."""
    from elastic_asset_etl_poc_spark.operators.graph import kcore_membership

    und = [("a", "b"), ("b", "c"), ("a", "c")]
    edges = spark.createDataFrame(und, ["src", "dst"])
    sc = spark.sparkContext
    grp = "kcore_stable"
    sc.setJobGroup(grp, grp)
    got = {r[0]: r[1] for r in kcore_membership(edges, k=2).collect()}
    sc.setJobGroup(None, None)
    assert got == {"a": 2, "b": 2, "c": 2}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(grp))
    # 2 checkpoint jobs + the result collect = 3; the pre-r17 shape
    # was >= 7 (per-round count actions + the confirmation round)
    assert n_jobs <= 4, n_jobs
