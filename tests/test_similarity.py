"""Similarity-search operator tests."""

from conftest import SF_DIR

from elastic_asset_etl_poc_spark.operators.similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
    lsh_topk,
)
from elastic_asset_etl_poc_spark.sources.registry import load_table


def vec_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),  # nearest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # anti-parallel: last
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(spark):
    emb = vec_df(spark)
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3]
    assert all(r.query_id == 0 for r in out)  # self excluded


def test_cosine_topk_k_bound(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = cosine_topk(emb, emb.filter("vec_id < 3"), k=5)
    rows = out.collect()
    assert len(rows) == 15
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_lsh_subset_of_bruteforce_universe(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 3")
    lsh = lsh_topk(emb, q, k=5).collect()
    assert len(lsh) <= 15  # approximate: may return fewer
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    for r in lsh:
        assert r.neighbor_id in ids and r.neighbor_id != r.query_id


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Multi-probe banding must keep recall@10 >= 0.9 on the fixtures."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    bf = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=10).collect()}
    ann = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, q, k=10).collect()}
    assert len(ann & bf) / len(bf) >= 0.9


def test_ivf_topk_recall_floor_and_nprobe_monotonic(spark):
    """IVF on the structureless random fixtures: recall floor at the
    default nprobe, and more probes never hurt recall."""
    from elastic_asset_etl_poc_spark.operators.similarity import ivf_topk, ivf_train

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    bf = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=10).collect()}
    C = ivf_train(emb)

    def recall(nprobe):
        ann = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, q, C, k=10, nprobe=nprobe).collect()
        }
        return len(ann & bf) / len(bf)

    r4, r8, r16 = recall(4), recall(8), recall(16)
    assert r8 >= 0.8  # default config floor (deterministic seed)
    assert r4 <= r8 <= r16
    assert r16 == 1.0  # probing every list IS brute force


def test_cosine_pairs_no_driver_materialization(spark):
    """Plan construction must not run any driver-side action (the round-1
    form collect()ed the whole table — a driver OOM at scale)."""
    from pyspark.sql import DataFrame

    emb = load_table(spark, SF_DIR, "embeddings")
    forbidden = {}
    for name in ("collect", "first", "toPandas", "head", "take"):
        forbidden[name] = getattr(DataFrame, name)

        def boom(*a, _n=name, **k):
            raise AssertionError(f"driver action {_n}() during cosine_pairs plan")

        setattr(DataFrame, name, boom)
    try:
        df = cosine_pairs(emb, threshold=0.45)
    finally:
        for name, fn in forbidden.items():
            setattr(DataFrame, name, fn)
    assert df.count() > 0  # plan executes distributed


def test_cosine_pairs_string_ids(spark):
    """Pair columns inherit the id column's type (UUID/string ids work)."""
    rows = [
        ("a", [1.0, 0.0]),
        ("b", [0.9999, 0.01]),  # near-dup of a
        ("c", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = cosine_pairs(df, threshold=0.99, blocks=2).collect()
    assert [(r.vec_a, r.vec_b) for r in out] == [("a", "b")]
    assert dict(cosine_pairs(df, 0.99).dtypes)["vec_a"] == "string"


def test_cosine_pairs_lsh_recall_and_precision(spark):
    """LSH-bucketed pairs: every emitted pair is in the exact set with the
    identical cosine (precision 1), and recall >= 0.9."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {(r.vec_a, r.vec_b): r.cos for r in cosine_pairs(emb, 0.45).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cos for r in cosine_pairs_lsh(emb, 0.45).collect()}
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]
    assert len(lsh) / max(len(exact), 1) >= 0.9


def test_ivf_train_sample_bounded(spark):
    """The k-means train sample must stay ~max_train_sample regardless of
    corpus size (never an O(N) driver collect)."""
    from elastic_asset_etl_poc_spark.operators.similarity import ivf_topk, ivf_train

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 2")
    # tiny cap: still trains (centroids capped at sample size) and answers
    C = ivf_train(emb, max_train_sample=8)
    out = ivf_topk(emb, q, C, k=5, nprobe=16).collect()
    assert len(out) > 0
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(v) <= 5 for v in per_q.values())


def test_cosine_pairs_lsh_hot_bucket_bounded(spark):
    """A cluster of near-identical vectors lands entirely in one
    (band, bucket) — sign-LSH cannot split near-parallel vectors — so the
    un-capped plan would run one O(hot^2) task.  The cap must (a) bound
    every task's input and (b) leave the emitted pair set unchanged."""
    import random

    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.similarity import (
        _banded_signatures,
        _bounded_bucket_groups,
    )

    rng = random.Random(7)
    base = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    rows = [
        (i, [x + rng.uniform(-1e-3, 1e-3) for x in base]) for i in range(200)
    ] + [(1000 + i, [rng.uniform(-1.0, 1.0) for _ in base]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # the raw (uncapped) hot bucket really holds the whole cluster
    banded = _banded_signatures(df, "vec_id", "embedding", 4, 32, 0xC051)
    raw_max = banded.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    assert raw_max >= 200

    # capped: every per-task group is bounded (<= block_i + block_j rows,
    # blocks ~cap with hash variance — 4x cap is a generous determinstic bound)
    cap = 32
    sizes = (
        _bounded_bucket_groups(banded, cap)
        .groupBy("band", "bucket", "__bi", "__bj")
        .count()
    )
    assert sizes.agg(F.max("count")).first()[0] <= 4 * cap

    # pair set is invariant under the cap; cosines agree to rounding
    capped = {
        (r.vec_a, r.vec_b): r.cos
        for r in cosine_pairs_lsh(df, 0.99, max_bucket=cap).collect()
    }
    uncapped = {
        (r.vec_a, r.vec_b): r.cos
        for r in cosine_pairs_lsh(df, 0.99, max_bucket=1 << 30).collect()
    }
    assert set(capped) == set(uncapped)
    assert len(capped) >= 200 * 199 // 2  # whole cluster found (recall 1 here)
    for pair, cos in capped.items():
        assert abs(cos - uncapped[pair]) <= 1e-4


def test_ivf_train_reuse_skips_training_jobs(spark):
    """A static corpus trains once: ivf_topk over the pre-trained
    centroids must give the same answer as over the same centroids
    trained again, and run NO driver actions (count/collect) during
    plan construction."""
    from pyspark.sql import DataFrame

    from elastic_asset_etl_poc_spark.operators.similarity import ivf_topk, ivf_train

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 3")
    C = ivf_train(emb)
    assert C.ndim == 2 and C.shape[0] == 16

    self_trained = sorted(map(tuple, ivf_topk(emb, q, ivf_train(emb), k=5).collect()))

    forbidden = {}
    for name in ("collect", "first", "toPandas", "head", "take", "count"):
        forbidden[name] = getattr(DataFrame, name)

        def boom(*a, _n=name, **k):
            raise AssertionError(f"driver action {_n}() with pre-trained centroids")

        setattr(DataFrame, name, boom)
    try:
        reused = ivf_topk(emb, q, k=5, centroids=C)
    finally:
        for name, fn in forbidden.items():
            setattr(DataFrame, name, fn)
    assert sorted(map(tuple, reused.collect())) == self_trained


def test_cluster_assign_two_obvious_clusters(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import (
        cluster_assign,
        ivf_train,
    )

    rows = [(i, [1.0, 0.0, 0.01 * i]) for i in range(8)] + [
        (i, [0.0, 1.0, -0.01 * i]) for i in range(8, 16)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = ivf_train(df, n_centroids=2, kmeans_iters=5)
    out = {r.vec_id: r.cluster_id for r in cluster_assign(df, C).collect()}
    a = {out[i] for i in range(8)}
    b = {out[i] for i in range(8, 16)}
    assert len(a) == 1 and len(b) == 1 and a != b
    # assignment is deterministic across invocations
    again = {r.vec_id: r.cluster_id for r in cluster_assign(df, C).collect()}
    assert again == out


def _rand_emb(spark, n=60, d=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_lossless_when_ksub_covers_corpus(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
        pq_train,
    )

    emb = _rand_emb(spark)
    q = emb.filter("vec_id < 3")
    exact = {(r.query_id, r.neighbor_id, r.rank) for r in cosine_topk(emb, q, k=5).collect()}
    B = pq_train(emb, m=4, ksub=64, max_train_sample=64)
    pq = {(r.query_id, r.neighbor_id, r.rank) for r in
          pq_topk(emb, q, B, k=5).collect()}
    assert pq == exact  # one centroid per training point -> lossless ADC


def test_pq_refine_recovers_recall(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
        pq_train,
    )

    emb = _rand_emb(spark, n=120, d=16, seed=11)
    q = emb.filter("vec_id < 3")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=5).collect()}
    B = pq_train(emb, m=4, ksub=8)

    def recall(refine):
        got = {(r.query_id, r.neighbor_id) for r in
               pq_topk(emb, q, B, k=5, refine=refine).collect()}
        return len(got & exact) / len(exact)

    r0, r8 = recall(0), recall(8)
    assert r8 >= r0  # exact re-rank never hurts
    assert r8 >= 0.8  # with 8x candidates the lossy tier recovers


def test_pq_rejects_indivisible_dim(spark):
    import pytest

    from elastic_asset_etl_poc_spark.operators.similarity import pq_train

    with pytest.raises(ValueError, match="not divisible"):
        pq_train(_rand_emb(spark, n=10, d=10), m=4, ksub=4)


def test_sq8_codes_bounds_and_constant_dim(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import (
        sq8_encode,
        sq8_train,
    )

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [1.0, 5.0, 1.0]),
        (3, [0.5, 5.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = sq8_train(df)
    mn, mx = b.collect()[0]
    assert mn == [0.0, 5.0, -1.0] and mx == [1.0, 5.0, 1.0]
    codes = {r["vec_id"]: r["codes"] for r in sq8_encode(df, b).collect()}
    for cs in codes.values():
        assert all(0 <= c <= 255 for c in cs)
    assert codes[1][0] == 0 and codes[2][0] == 255
    # constant dim (mx == mn) codes to 0 for every row
    assert all(codes[i][1] == 0 for i in (1, 2, 3))
    assert codes[2][2] == 255 and codes[1][2] == 0


def test_sq8_encode_out_of_range_saturates_with_reused_bounds(spark):
    """Bounds are persisted and reused across encodes (the documented
    production shape), so future vectors can fall outside the trained
    [mn, mx]: below-min must saturate to 0 and above-max to 255 —
    never a negative or >255 code."""
    from elastic_asset_etl_poc_spark.operators.similarity import (
        sq8_encode,
        sq8_train,
    )

    train = spark.createDataFrame(
        [(1, [0.0, 10.0]), (2, [1.0, 20.0])],
        "vec_id long, embedding array<float>",
    )
    bounds = sq8_train(train)
    future = spark.createDataFrame(
        [(10, [-5.0, 15.0]), (11, [9.0, 25.0])],
        "vec_id long, embedding array<float>",
    )
    codes = {r["vec_id"]: r["codes"] for r in sq8_encode(future, bounds).collect()}
    assert codes[10] == [0, 127]
    assert codes[11] == [255, 255]


def test_sq8_topk_high_recall_vs_exact(spark):
    """8-bit quantization on smooth random vectors: recall@10 vs the
    exact brute force should be near 1 (>= 0.9 asserted)."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=16).astype(float).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, qs, k=10).collect()
    }
    b = sq8_train(df)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(sq8_encode(df, b), b, qs, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_incremental_store_serves_exact_under_full_probe(spark):
    """The incremental-maintenance contract: assignments built in two
    batches against frozen centroids (standing + delta), probed at
    nprobe = n_centroids, reproduce exact cosine top-k exactly — the
    same property embed_knn_ivf_incr hash-checks against the brute
    force oracle, pinned here on random data for the assign/probe
    refactor."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_probe,
        ivf_train,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    standing = emb.filter("vec_id % 5 != 0")
    delta = emb.filter("vec_id % 5 == 0")
    cents = ivf_train(standing, n_centroids=4, max_train_sample=64)
    store = ivf_assign(standing, cents).unionByName(
        ivf_assign(delta, cents)
    )
    queries = emb.filter("vec_id < 3")
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_probe(
            store, queries, cents, k=5, nprobe=len(cents)
        ).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    assert got == want


def test_mutual_top1_string_ids_tiebreak(spark):
    """mutual_top1_pairs must work for NON-NUMERIC ids (the argmax
    tiebreak orders the id in its own natural order — only cos is
    negated).  Regression: an earlier formulation negated the neighbor
    id arithmetically, which fails on strings.  Corpus: two exact
    duplicate directions, so every neighbor ties at cos=1.0 within the
    duplicate cluster and the tie MUST break to the lexicographically
    smaller id."""
    from elastic_asset_etl_poc_spark.operators.similarity import (
        mutual_top1_pairs,
    )

    emb = spark.createDataFrame(
        [
            ("doc_c", [1.0, 0.0]),
            ("doc_a", [2.0, 0.0]),  # same direction as doc_c, doc_b
            ("doc_b", [3.0, 0.0]),
            ("doc_z", [0.0, 1.0]),  # orthogonal: best match is the
            ("doc_y", [0.0, 2.0]),  # other orthogonal vector
        ],
        ["vec_id", "embedding"],
    )
    got = {
        (r.vec_a, r.vec_b): round(r.cos, 6)
        for r in mutual_top1_pairs(emb).collect()
    }
    # within the x-direction cluster all cos ties at 1.0 → everyone's
    # top-1 is doc_a (smallest id ≠ self... except doc_a's own, which
    # is doc_b); mutual pair is (doc_a, doc_b).  y-cluster pairs up.
    assert got == {("doc_a", "doc_b"): 1.0, ("doc_y", "doc_z"): 1.0}


def test_cosine_best_match_equals_definitional_topk(spark):
    """cosine_best_match's numpy-blocked partial-argmax merge must pick
    the same top-1 (cos DESC at the 4-dp grain, id ASC ties) as the
    definitional window over all scored pairs, across partition/batch
    boundaries (corpus repartitioned to 7 slices so batches split)."""
    import math

    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_best_match,
    )

    rows = [
        (i, [math.cos(i * 0.37), math.sin(i * 0.37), (i % 5) * 0.1])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(7)
    queries = emb.filter("vec_id % 3 = 0")
    got = {
        r.query_id: (r.neighbor_id, round(r.cos, 4))
        for r in cosine_best_match(emb, queries).collect()
    }
    import itertools

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    vecs = dict(rows)
    want = {}
    for q in vecs:
        if q % 3 != 0:
            continue
        best = min(
            ((-cos(vecs[q], vecs[o]), o) for o in vecs if o != q)
        )
        want[q] = (best[1], -best[0])
    assert got == want


def test_mutual_lsh_recovers_clustered_mutual_pairs(spark):
    """On a corpus of tight duplicate clusters (the production near-dup
    regime, cos≈1 within cluster), mutual_top1_pairs_lsh must recover
    the exact mutual pair set: near-parallel vectors always co-fall in
    sign-LSH buckets, so recall is 1 by construction there."""
    import math

    from elastic_asset_etl_poc_spark.operators.similarity import (
        mutual_top1_pairs,
        mutual_top1_pairs_lsh,
    )

    rows = []
    for c in range(12):  # 12 well-separated directions, 2 members each
        base = [math.cos(c * 0.5), math.sin(c * 0.5), math.cos(c * 1.3), math.sin(c * 1.3)]
        rows.append((2 * c, base))
        rows.append((2 * c + 1, [x * 1.01 + 0.001 for x in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(5)
    exact = {
        (r.vec_a, r.vec_b) for r in mutual_top1_pairs(emb).collect()
    }
    approx = {
        (r.vec_a, r.vec_b)
        for r in mutual_top1_pairs_lsh(emb).collect()
    }
    assert exact  # non-vacuous
    assert approx == exact  # recall 1, no spurious pairs on this corpus


def test_mutual_lsh_bounded_bucket_decomposition_equals_unbounded(spark):
    """Force the hot-bucket block decomposition (max_bucket smaller
    than the cluster) and assert the cross-block argmax partials merge
    to the SAME mutual pairs as the undecomposed run and the exact
    baseline.  A near-parallel 40-vector cluster lands whole in one
    (band, bucket) per band — with max_bucket=8 every bucket splits
    into block pairs, exercising the bi != bj branch of bucket_best
    (per-A-row and per-B-row partial bests) that whole-bucket corpora
    never touch."""
    from elastic_asset_etl_poc_spark.operators.similarity import (
        mutual_top1_pairs,
        mutual_top1_pairs_lsh,
    )

    # one tight cluster: all cos ~1, argmax decided by 4-dp rounding +
    # id tiebreaks — the hardest case for partial-merge consistency
    rows = [
        (i, [1.0, 0.001 * i, 0.0005 * (i % 7)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(5)
    exact = {
        (r.vec_a, r.vec_b, round(r.cos, 4))
        for r in mutual_top1_pairs(emb).collect()
    }
    whole = {
        (r.vec_a, r.vec_b, round(r.cos, 4))
        for r in mutual_top1_pairs_lsh(emb, max_bucket=4096).collect()
    }
    split = {
        (r.vec_a, r.vec_b, round(r.cos, 4))
        for r in mutual_top1_pairs_lsh(emb, max_bucket=8).collect()
    }
    assert exact  # non-vacuous
    assert whole == exact  # cluster co-falls: LSH recall 1 here
    assert split == whole  # decomposition must not change the answer


def test_mutual_ivf_recovers_clustered_mutual_pairs(spark):
    """The IVF composition on the same tight-cluster corpus as the LSH
    test: reciprocal pairs share their home coarse cluster, so
    mutual_top1_pairs_ivf must recover the exact mutual set — and the
    hot-list decomposition (max_bucket=8 < cluster size) must not
    change the answer."""
    import math

    from elastic_asset_etl_poc_spark.operators.similarity import (
        ivf_train,
        mutual_top1_pairs,
        mutual_top1_pairs_ivf,
    )

    rows = []
    for c in range(12):
        base = [math.cos(c * 0.5), math.sin(c * 0.5), math.cos(c * 1.3), math.sin(c * 1.3)]
        rows.append((2 * c, base))
        rows.append((2 * c + 1, [x * 1.01 + 0.001 for x in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(5)
    exact = {
        (r.vec_a, r.vec_b) for r in mutual_top1_pairs(emb).collect()
    }
    assert exact
    C = ivf_train(emb, n_centroids=8)
    for kw in (dict(), dict(max_bucket=8)):
        approx = {
            (r.vec_a, r.vec_b)
            for r in mutual_top1_pairs_ivf(emb, C, nprobe=4, **kw).collect()
        }
        assert approx == exact, kw


def test_mutual_kernels_survive_zero_vectors(spark):
    """A zero embedding must not poison the per-group argmax kernel:
    unguarded normalization yields NaN cosines that propagate through
    the struct-min merge and can emit garbage mutual pairs.  The guard
    maps a zero vector to cos 0 against everything, so the non-zero
    cluster pairs are unaffected and no NaN ever reaches the output."""
    import math

    from elastic_asset_etl_poc_spark.operators.similarity import (
        ivf_train,
        mutual_top1_pairs_ivf,
        mutual_top1_pairs_lsh,
    )

    rows = [(100, [0.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]
    for c in range(6):
        base = [
            math.cos(c * 0.7), math.sin(c * 0.7),
            math.cos(c * 1.9), math.sin(c * 1.9),
        ]
        rows.append((2 * c, base))
        rows.append((2 * c + 1, [x * 1.01 + 0.001 for x in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(3)
    expected = {(2 * c, 2 * c + 1) for c in range(6)}
    for pairs in (
        mutual_top1_pairs_lsh(emb).collect(),
        mutual_top1_pairs_ivf(
            emb, ivf_train(emb, n_centroids=4), nprobe=4
        ).collect(),
    ):
        got = {(r.vec_a, r.vec_b) for r in pairs}
        assert not any(math.isnan(r.cos) for r in pairs)
        assert expected <= got | {(100, 101)} and got <= expected | {(100, 101)}


def test_cosine_pairs_scores_zero_vectors_at_zero(spark):
    """The exact all-pairs kernel guards zero norms as the argmax kernel
    does: at threshold -2 every pair is emitted, and each pair with a
    zero vector scores cos 0 (unguarded normalization made those NaN,
    which no threshold keeps)."""
    import math

    rows = [(100, [0.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]
    for c in range(6):
        base = [
            math.cos(c * 0.7), math.sin(c * 0.7),
            math.cos(c * 1.9), math.sin(c * 1.9),
        ]
        rows.append((2 * c, base))
        rows.append((2 * c + 1, [x * 1.01 + 0.001 for x in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(3)
    ids = sorted(r[0] for r in rows)
    got = {(r.vec_a, r.vec_b): r.cos for r in cosine_pairs(emb, -2.0).collect()}
    assert sorted(got) == [(a, b) for a in ids for b in ids if a < b]
    assert not any(math.isnan(c) for c in got.values())
    assert all(c == 0.0 for (a, b), c in got.items() if {a, b} & {100, 101})


def test_ivfpq_lossless_full_probe_equals_exact(spark):
    """ksub >= corpus makes the RESIDUAL quantizer lossless and
    nprobe = n_centroids probes every list, so pure-ADC IVF-PQ must
    equal exact cosine top-k rank-for-rank — certifying the score
    decomposition q.unit(v) = q.C[list] + q.residual plus the
    encode/table/offset path with no refine to mask it."""
    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        ivf_train,
        ivfpq_topk,
        ivfpq_train,
    )

    emb = _rand_emb(spark)
    q = emb.filter("vec_id < 3")
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    C = ivf_train(emb, n_centroids=4, max_train_sample=64)
    B = ivfpq_train(emb, C, m=4, ksub=64, max_train_sample=64)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(emb, q, C, B, k=5, nprobe=4, refine=0).collect()
    }
    assert got == exact


def test_ivfpq_prunes_unprobed_lists(spark):
    """nprobe=1 must restrict candidates to each query's own nearest
    list: two well-separated clusters, a query from cluster A can only
    return cluster-A neighbors — proof the probe mask actually prunes
    rather than scanning everything."""
    import math

    from elastic_asset_etl_poc_spark.operators.similarity import (
        ivf_train,
        ivfpq_topk,
        ivfpq_train,
    )

    rows = []
    for i in range(20):
        a = 0.02 * i
        rows.append((i, [1.0, a, 0.0, 0.0]))            # cluster A
        rows.append((100 + i, [-1.0, 0.0, a, 0.0]))      # cluster B (opposed)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0")
    C = ivf_train(emb, n_centroids=2, max_train_sample=64)
    B = ivfpq_train(emb, C, m=4, ksub=16, max_train_sample=64)
    got = ivfpq_topk(emb, q, C, B, k=5, nprobe=1, refine=0).collect()
    assert len(got) == 5
    assert all(r.neighbor_id < 100 for r in got)


def test_ivfpq_incremental_fold_equals_full(spark):
    """Incremental IVF-PQ maintenance: assigning a delta batch against
    FROZEN coarse centroids and unioning it onto the standing store
    must serve identically to a from-scratch assignment of the full
    corpus under the same (C, B) — pair-for-pair AND rank-for-rank.
    refine=0 so per-partition keep and global top-k share one total
    order (score desc, id asc): the result is a pure function of the
    row set, so ANY inequality is a fold bug (stale centroids, lost or
    duplicated rows), never layout noise.  The standing/delta split
    deliberately leaves the delta out of training — the production
    regime where codebooks are stale relative to the served corpus."""
    from elastic_asset_etl_poc_spark.operators.similarity import (
        ivf_assign,
        ivf_train,
        ivfpq_probe,
        ivfpq_train,
    )

    emb = _rand_emb(spark, n=150, d=16, seed=23)
    standing = emb.filter("vec_id % 5 != 0")
    delta = emb.filter("vec_id % 5 = 0")
    C = ivf_train(standing, n_centroids=4)
    B = ivfpq_train(standing, C, m=4, ksub=8)
    store_incr = ivf_assign(standing, C).unionByName(
        ivf_assign(delta, C)
    ).repartition(7)  # layout differs from the full arm on purpose
    store_full = ivf_assign(emb, C).repartition(3)
    q = emb.filter("vec_id < 3")
    incr = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_probe(
            store_incr, q, C, B, k=5, nprobe=2, refine=0
        ).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_probe(
            store_full, q, C, B, k=5, nprobe=2, refine=0
        ).collect()
    }
    assert incr == full and len(incr) == 15  # 3 queries × k=5


def test_ivfpq_refine_recovers_recall_and_empty_edges(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import (
        cosine_topk,
        ivf_train,
        ivfpq_topk,
        ivfpq_train,
    )

    emb = _rand_emb(spark, n=120, d=16, seed=11)
    q = emb.filter("vec_id < 3")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    C = ivf_train(emb, n_centroids=4)
    B = ivfpq_train(emb, C, m=4, ksub=8)

    def recall(refine):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(
                emb, q, C, B, k=5, nprobe=4, refine=refine
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r8 = recall(0), recall(8)
    assert r8 >= r0
    assert r8 >= 0.8  # full probe: only the PQ tier is lossy here
    # empty query set and empty corpus both yield empty frames
    none_q = emb.filter("vec_id < 0")
    C = ivf_train(emb)
    assert ivfpq_topk(emb, none_q, C, ivfpq_train(emb, C, m=4), k=5).count() == 0
    C0 = ivf_train(none_q)
    B0 = ivfpq_train(none_q, C0, m=4)
    assert ivfpq_topk(none_q, none_q, C0, B0, k=5).count() == 0
