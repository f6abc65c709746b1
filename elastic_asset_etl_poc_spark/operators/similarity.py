"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, a banded random-hyperplane
LSH variant as the scale path, IVF / PQ / IVF-PQ / SQ8 ANN tiers, and
all-pairs near-dup kernels (exact blocked + LSH-bucketed).  Dot products
in the top-k operators run JVM-side via ``zip_with``/``aggregate``
higher-order functions; the all-pairs kernels use Arrow-batched numpy
matmul (BLAS) — measured 10×+ faster than interpreted folds for O(N²·d)
work.

Train once, serve many: the trained artifacts — IVF centroids
(:func:`ivf_train`), PQ codebooks (:func:`pq_train`), IVF-PQ residual
codebooks (:func:`ivfpq_train`) — are plain numpy arrays, and every
operator that uses one (:func:`ivf_topk`, :func:`pq_topk`,
:func:`ivfpq_topk`, :func:`mutual_top1_pairs_ivf`,
:func:`cluster_assign`) takes it as a required argument.  No serving
operator trains: the count+collect train jobs run once per corpus (the
suite memoizes them per session), never per query batch.

Higher-order-function note (r15, from the bloom forensics): HOFs are
``CodegenFallback`` expressions and a stage containing one is NOT
wrapped in WholeStageCodegen — so the ``_dot``/``_norm`` folds here
run interpreted, not codegen'd.  That is a deliberate, bounded cost:
every HOF site in this module sits in an exact/audit arm or a
query-sized frame (brute-force baselines, recall audits), while the
O(N²)/serving hot paths are the Arrow-batched numpy kernels precisely
because per-element JVM folds — codegen'd or not — lose to BLAS by 10×+
there.  A predicate on a corpus-sized SHUFFLE stage must not use HOFs
(that was the bloom bug, operators/bloom.py); a bounded scoring arm may.

Scale posture:
  * top-k: the query side is always the small side — broadcast it.
    Brute force is O(N·Q) dot products with zero shuffle; LSH cuts the
    candidate set per query to its probe buckets.
  * all-pairs: :func:`cosine_pairs` is exact — O(N²·d) compute spread
    over block-pair tasks, with per-task memory O(N/blocks · d) and NO
    driver materialization (the round-1 collect()-based form was a
    driver OOM at scale).  :func:`cosine_pairs_lsh` is the true 100 TB
    path: banded sign-LSH buckets bound the candidate set, the same
    block-pair kernel (:func:`_pair_kernel`) runs per bucket, recall is
    tunable via (planes, bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _matrix(vectors):
    """An iterable of vector cells (one Arrow column) → (n, d) float64."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in vectors])


def _unit(m):
    """Row-wise L2 normalization; zero rows stay zero instead of NaN."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k → (query_id, neighbor_id, rank).

    ``queries`` is broadcast; every embedding partition scores locally;
    one window per query_id takes the top k.  Ranks use (cosine DESC,
    neighbor_id ASC) so ties are deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("ev")
    )
    scored = e.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = (_dot(F.col("ev"), F.col("qv")) / (_norm(F.col("ev")) * _norm(F.col("qv")))).alias(
        "cos"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select("query_id", "neighbor_id", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _exact_cos(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos) over candidate rows that carry the
    neighbor vector ``ev`` and the query vector ``qv``."""
    cos = _dot(F.col("ev"), F.col("qv")) / (_norm(F.col("ev")) * _norm(F.col("qv")))
    return cand.select("query_id", "neighbor_id", cos.alias("cos"))


def _rank_topk(scored: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """Per-query top ``k`` of (query_id, neighbor_id, score) rows by
    (score DESC, neighbor_id ASC), so ties are deterministic →
    (query_id, neighbor_id, rank).  The approximate operators share it;
    :func:`cosine_topk`, the exact arm the recall audits compare them
    against, keeps its own window so a fault here cannot pass an audit
    by breaking both arms alike."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int,
    bands: int,
    seed: int,
    with_payload: bool = True,
):
    """Banded sign-LSH signature stage → (__id, __v double[], band, bucket).

    One Arrow ``mapInPandas`` pass: every worker draws the identical
    Gaussian hyperplane matrix from the fixed ``seed`` (no driver job, no
    broadcast), signs come from one BLAS matmul per batch, and each
    vector emits ``bands`` rows — band *b*'s bucket packs the sign bits
    of planes ``[b·planes, (b+1)·planes)``.

    ``with_payload=False`` emits only (band, bucket) — the bucket-size
    counting pass needs nothing else, and skipping the id/vector columns
    removes the bulk of the Arrow transfer (the matmul itself is
    inherent: buckets are defined by it).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    idtype = df.schema[id_col].dataType
    fields = (
        [
            T.StructField("__id", idtype),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
        if with_payload
        else []
    )
    sig_schema = T.StructType(
        fields
        + [
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )
    total_planes = planes * bands

    def signatures(it):
        rng = np.random.default_rng(seed)
        H = None  # lazily sized from the first batch's vector width
        for pdf in it:
            if len(pdf) == 0:
                continue
            vecs = _matrix(pdf[vec_col])
            if H is None:
                H = rng.standard_normal((total_planes, vecs.shape[1]))
            bits = (vecs @ H.T >= 0).astype(np.int64)  # (n, total_planes)
            n = len(pdf)
            buckets = np.concatenate(
                [
                    (bits[:, b * planes : (b + 1) * planes] << np.arange(planes))
                    .sum(axis=1)
                    for b in range(bands)
                ]
            )
            cols = {
                "band": np.repeat(np.arange(bands, dtype=np.int32), n),
                "bucket": buckets.astype(np.int32),
            }
            if with_payload:
                ids = pdf[id_col].to_numpy()
                cols = {
                    "__id": np.tile(ids, bands),
                    "__v": list(vecs) * bands,
                    **cols,
                }
            yield pd.DataFrame(cols)

    return df.select(id_col, vec_col).mapInPandas(signatures, sig_schema)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 4,
    bands: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0xC051,
) -> DataFrame:
    """Multi-probe (banded) sign-LSH ANN → (query_id, neighbor_id, rank).

    Each vector gets ``bands`` independent ``planes``-bit signatures from
    :func:`_banded_signatures`.  A pair is a candidate when ANY band's
    signature matches — recall ≈ 1 − (1 − p^planes)^bands for per-plane
    agreement p = 1 − θ/π — so recall is tunable by adding bands without
    touching bucket width.  Exact cosine re-ranks the deduplicated
    candidates.  Still approximate (recall < 1 by design); pair with
    :func:`cosine_topk` when auditing recall — the (4, 32) defaults
    measure recall@10 = 1.0 on the sf0.01 fixtures.

    No driver actions: the hyperplane matrix regenerates per worker from
    the seed, and the vector width comes from the data itself.
    """
    e = _banded_signatures(embeddings, id_col, vec_col, planes, bands, seed).select(
        F.col("__id").alias("neighbor_id"), F.col("__v").alias("ev"), "band", "bucket"
    )
    q = _banded_signatures(queries, id_col, vec_col, planes, bands, seed).select(
        F.col("__id").alias("query_id"), F.col("__v").alias("qv"), "band", "bucket"
    )

    cand = (
        e.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "ev", "qv")
        .distinct()  # a pair found by several bands scores once
    )
    return _rank_topk(_exact_cos(cand), k)


def _train_sample(embeddings, max_train_sample, id_col, vec_col):
    """The bounded deterministic training sample every trainer shares →
    (n, d) float64 UNIT rows, or an empty (0, 0) array for an empty
    corpus.  A cheap ``count()`` sizes ``mod = ceil(N / max_train_sample)``
    and rows with ``xxhash64(id) % mod == 0`` are collected — O(sample)
    on the driver (the broadcast-build-side discipline), NEVER O(N),
    regardless of corpus size."""
    import numpy as np

    sample = embeddings.select(id_col, vec_col)
    n_total = sample.count()  # distributed aggregate — cheap at any scale
    mod = -(-max(n_total, 1) // max_train_sample)  # ceil div
    if mod > 1:
        sample = sample.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(mod)) == 0
        )
    rows = sample.collect()  # ≈ max_train_sample rows — bounded, never O(N)
    if not rows:
        return np.empty((0, 0), dtype=np.float64)
    return _unit(_matrix(r[1] for r in rows))


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_train_sample: int = 4096,
    kmeans_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0x1BF,
):
    """Train an IVF coarse quantizer → centroid matrix (kc, d) float64.

    Spherical k-means on the bounded sample of :func:`_train_sample`.
    Returns an empty (0, 0) array for an empty corpus.

    The returned numpy array is plain data: persist it with ``np.save``
    (or a one-row parquet) and hand it to :func:`ivf_topk` — a static
    corpus trains ONCE, then every query batch skips the count+collect
    train jobs entirely.
    """
    import numpy as np

    S = _train_sample(embeddings, max_train_sample, id_col, vec_col)
    if not len(S):
        return S
    rng = np.random.default_rng(seed)
    kc = min(n_centroids, len(S))
    C = S[rng.choice(len(S), size=kc, replace=False)]
    for _ in range(kmeans_iters):  # spherical k-means
        assign = np.argmax(S @ C.T, axis=1)
        for c in range(kc):
            members = S[assign == c]
            if len(members):
                mean = members.sum(axis=0)
                nm = np.linalg.norm(mean)
                if nm > 0:
                    C[c] = mean / nm
    return C


def _nearest_centroid(
    embeddings: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    cid_col: str,
    out_id: str,
    with_vec: bool,
) -> DataFrame:
    """The one nearest-centroid kernel: every vector maps to its nearest
    (cosine) centroid via one Arrow numpy matmul against the broadcast
    centroid matrix — map-side, no shuffle, no driver action.  Returns
    ``(cid_col, out_id[, __v])``; a zero vector's norm counts as 1, so
    it assigns deterministically instead of through NaN."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    idtype = embeddings.schema[id_col].dataType
    bc = embeddings.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )
    fields = [
        T.StructField(cid_col, T.IntegerType()),
        T.StructField(out_id, idtype),
    ]
    if with_vec:
        fields.append(T.StructField("__v", T.ArrayType(T.DoubleType())))

    def assign_nearest(it):
        Cm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            vecs = _matrix(pdf[vec_col])
            cid = np.argmax(_unit(vecs) @ Cm.T, axis=1).astype(np.int32)
            cols = {cid_col: cid, out_id: pdf[id_col]}
            if with_vec:
                cols["__v"] = list(vecs)
            yield pd.DataFrame(cols)

    return embeddings.select(id_col, vec_col).mapInPandas(
        assign_nearest, T.StructType(fields)
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
) -> DataFrame:
    """IVF list assignment: every vector maps to its nearest coarse
    centroid (:func:`_nearest_centroid`).  Returns ``(centroid, out_id,
    __v)``, the inverted-file STORE layout (parquet-persistable, so a
    standing index can be maintained incrementally: assigning a new
    batch against FROZEN centroids is this same stateless map over just
    the delta — no retrain, no touch of the standing lists)."""
    return _nearest_centroid(
        embeddings, centroids, id_col, vec_col, "centroid", out_id, True
    )


def ivf_probe(
    store: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an assigned IVF store ``(centroid, neighbor_id, __v)``:
    each query replicates to its ``nprobe`` nearest centroids' lists
    (map-side matmul), candidates come from an equi-join on the
    centroid id (queries broadcast), exact cosine re-ranks.  nprobe =
    n_centroids is the full probe — exact KNN served THROUGH the store
    layout, the property the incremental-maintenance audit leans on."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = queries.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )
    schema = T.StructType(
        [
            T.StructField("centroid", T.IntegerType()),
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
    )

    def probe(it):
        Cm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            vecs = _matrix(pdf[vec_col])
            order = np.argsort(-(_unit(vecs) @ Cm.T), axis=1)[
                :, : min(nprobe, len(Cm))
            ]
            nq, probes = order.shape
            yield pd.DataFrame(
                {
                    "centroid": order.reshape(-1).astype(np.int32),
                    "query_id": np.repeat(pdf[id_col].to_numpy(), probes),
                    "__v": [v for v in vecs for _ in range(probes)],
                }
            )

    e = store.select("centroid", "neighbor_id", F.col("__v").alias("ev"))
    q = queries.select(id_col, vec_col).mapInPandas(probe, schema).select(
        "centroid", "query_id", F.col("__v").alias("qv")
    )
    cand = e.join(F.broadcast(q), "centroid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_topk(_exact_cos(cand), k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN → (query_id, neighbor_id, rank).

    The classic coarse-quantizer layout (FAISS-style IVF-Flat), composed
    from the reusable stages over a ``centroids`` matrix trained once by
    :func:`ivf_train`:

    1. **assign** — :func:`ivf_assign` (map-side, no shuffle; also the
       incremental-add primitive for a persisted store);
    2. **probe** — :func:`ivf_probe`.

    Raising ``nprobe`` trades compute for recall without re-training.
    Complements :func:`lsh_topk`: IVF adapts its partitions to the data
    distribution (clustered corpora probe few dense lists), while LSH is
    data-independent.  On the UNclustered random fixtures recall@10 is
    0.86 at (16 centroids, nprobe=8) — the structureless worst case;
    clustered real corpora concentrate neighbors in few lists.  An empty
    ``centroids`` (an empty training corpus) gives an empty result.
    """
    from pyspark.sql import types as T

    if len(centroids) == 0:
        idtype = embeddings.schema[id_col].dataType
        return embeddings.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", idtype),
                    T.StructField("neighbor_id", idtype),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    store = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    return ivf_probe(
        store, queries, centroids, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col,
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs → (vec_a, vec_b, cos),
    with ``vec_a < vec_b``.

    Distributed block-pair formulation — no driver materialization:

    1. every vector hashes to one of ``blocks`` blocks (deterministic
       ``xxhash64`` of its id);
    2. each row replicates to the ``blocks`` block-pairs it participates
       in (:func:`_replicate_block_pairs` — replication factor =
       ``blocks``);
    3. one Arrow ``applyInPandas`` task per unordered block-pair runs the
       numpy matmul (BLAS) for its (N/blocks)² cell of the similarity
       matrix and emits pairs ≥ threshold (:func:`_pair_kernel`, the
       kernel the LSH path runs per bucket).

    Total compute is the same O(N²·d) as the exact problem demands, but
    it is spread over blocks·(blocks+1)/2 independent tasks and per-task
    memory is O(N/blocks · d) — size ``blocks`` so a block fits an
    executor.  For corpora where exact all-pairs is no longer affordable,
    :func:`cosine_pairs_lsh` bounds the candidate set instead.

    Id-type-agnostic: output pair columns inherit ``id_col``'s type.
    """
    e = embeddings.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
        F.lit(blocks).alias("__nblk"),
    )
    return (
        _replicate_block_pairs(e, [])
        .groupBy("__bi", "__bj")
        .applyInPandas(
            lambda key, pdf: _pair_kernel(key, pdf, threshold),
            _pair_schema(embeddings.schema[id_col].dataType),
        )
    )


def _pair_schema(idtype, a: str = "vec_a", b: str = "vec_b"):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(a, idtype),
            T.StructField(b, idtype),
            T.StructField("cos", T.DoubleType()),
        ]
    )


def _replicate_block_pairs(sized: DataFrame, keys: list[str]) -> DataFrame:
    """The block-pair replication step shared by every pair kernel.

    Input: (*keys, __id, __v, __nblk) — ``__nblk`` is the row's block
    count within its ``keys`` group.  Each row hashes to block ``__blk =
    xxhash64(id) mod __nblk`` and replicates to the ``__nblk`` unordered
    block pairs {min(__blk, x), max(__blk, x)} it participates in, so a
    ``groupBy(*keys, __bi, __bj)`` covers every within-group pair exactly
    once and a row with ``__nblk = 1`` stays a single copy.  Output:
    (*keys, __id, __v, __blk, __bi, __bj).
    """
    blk = F.pmod(F.xxhash64(F.col("__id").cast("string")), F.col("__nblk"))
    pair_structs = F.transform(
        F.sequence(F.lit(0), F.col("__nblk") - 1),
        lambda x: F.struct(
            F.least(F.col("__blk"), x).alias("bi"),
            F.greatest(F.col("__blk"), x).alias("bj"),
        ),
    )
    return (
        sized.withColumn("__blk", blk.cast("int"))
        .select(*keys, "__id", "__v", "__blk", F.explode(pair_structs).alias("__p"))
        .select(
            *keys,
            "__id",
            "__v",
            "__blk",
            F.col("__p.bi").alias("__bi"),
            F.col("__p.bj").alias("__bj"),
        )
    )


def _bounded_bucket_groups(
    banded: DataFrame, max_bucket: int, counts: DataFrame | None = None
) -> DataFrame:
    """Split over-cap (band, bucket) groups into bounded block-pair tasks.

    Input: ``_banded_signatures`` output (__id, __v, band, bucket).
    Output: the same rows replicated with (__blk, __bi, __bj) so that a
    ``groupBy(band, bucket, __bi, __bj)`` sees at most ~2·max_bucket rows
    per task while still covering every within-bucket pair exactly once.

    Mechanism: count each bucket (map-side-combined aggregate of just the
    key — the vectors are not shuffled for the count; pass ``counts``
    built from the payload-free signature pass so the ids/vectors don't
    ride through Arrow either), left-join the (tiny) over-cap list back —
    declared as a plain join so AQE broadcasts it when small — and
    replicate each member of an over-cap bucket to the
    ``nblk = ceil(count / max_bucket)`` block-pairs it participates in
    (:func:`_replicate_block_pairs`, the :func:`cosine_pairs`
    decomposition but *within* a bucket).  Buckets at or under the cap
    keep nblk = 1 and degenerate to the original single-group plan.

    Why not re-hash over-cap buckets with extra planes?  Two reasons:
    (1) a bucket that is hot because its members are genuinely
    near-identical can NEVER be split by more sign-planes — near-parallel
    vectors agree on (almost) every hyperplane, so recursion would not
    terminate on exactly the input that matters; (2) refining signatures
    drops candidate pairs whose refined signatures disagree, silently
    changing the output.  Block-pair decomposition preserves the exact
    candidate set (same pairs, same cosines) and bounds per-task work
    unconditionally, including the all-identical worst case.
    """
    if counts is None:
        counts = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
    hot = counts.filter(F.col("__cnt") > max_bucket).select(
        "band",
        "bucket",
        F.ceil(F.col("__cnt") / max_bucket).cast("int").alias("__nblk"),
    )
    sized = banded.join(hot, ["band", "bucket"], "left").withColumn(
        "__nblk", F.coalesce(F.col("__nblk"), F.lit(1))
    )
    return _replicate_block_pairs(sized, ["band", "bucket"])


def _pair_kernel(key, pdf, threshold: float):
    """Exact cosine pairs ≥ ``threshold`` of one block-pair task →
    (vec_a, vec_b, cos) with vec_a < vec_b, cos rounded to 4 dp.  The
    group key ends in (__bi, __bj): a diagonal task (bi == bj) scores
    its block's upper triangle by id, an off-diagonal one the block-bi ×
    block-bj rectangle.  Shared by :func:`cosine_pairs` (one group per
    block pair of the corpus) and :func:`cosine_pairs_lsh` (one per
    block pair of a (band, bucket))."""
    import numpy as np
    import pandas as pd

    bi, bj = key[-2:]
    ids = pdf["__id"].to_numpy()
    if len(ids) < 2:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})
    m = _unit(_matrix(pdf["__v"]))  # a zero vector scores cos 0, not NaN
    if bi == bj:
        sims = m @ m.T
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        ai, bz = np.nonzero(mask)
        va, vb, cs = ids[ai], ids[bz], sims[ai, bz]
    else:
        blks = pdf["__blk"].to_numpy()
        a_idx = np.nonzero(blks == bi)[0]
        b_idx = np.nonzero(blks == bj)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})
        sims = m[a_idx] @ m[b_idx].T
        ai, bz = np.nonzero(sims >= threshold)
        xa, xb = ids[a_idx][ai], ids[b_idx][bz]
        # ids are unique within a group, so min/max orders each pair
        va, vb = np.minimum(xa, xb), np.maximum(xa, xb)
        cs = sims[ai, bz]
    return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos": np.round(cs, 4)})


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    bands: int = 32,
    seed: int = 0xC051,
    max_bucket: int = 4096,
) -> DataFrame:
    """LSH-bucketed embedding-cosine near-dup pairs → (vec_a, vec_b, cos).

    The 100 TB all-pairs path: instead of the full N×N matrix, vectors
    are bucketed by ``bands`` independent ``planes``-bit sign signatures
    (Gaussian hyperplanes from a fixed seed — deterministic across
    workers and runs); the exact numpy kernel runs only within each
    (band, bucket); pairs found by several bands dedup on their identical
    rounded cosine.  Output precision is exact (every emitted pair's
    cosine is computed, not estimated); recall ≈ 1 − (1 − p^planes)^bands
    with p = 1 − θ/π — tune ``planes`` up to shrink buckets (compute) and
    ``bands`` up to recover recall.

    Defaults (4, 32) give recall ≈ 0.998 at cos 0.45 and ≈ 1 at ≥ 0.8.
    Compute per band is Σ_bucket |bucket|² ≈ N²/2^planes.

    **Hot buckets are bounded**: a skewed corpus (a cluster of
    near-identical embeddings) lands its whole cluster in one
    (band, bucket) regardless of ``planes`` — sign-LSH cannot separate
    near-parallel vectors — which would otherwise make one task O(hot²)
    in memory and the straggler of the stage.  ``max_bucket`` caps the
    per-task population: over-cap buckets are decomposed into block-pair
    sub-tasks (see :func:`_bounded_bucket_groups`), preserving the exact
    candidate set while keeping every task at ≤ ~2·max_bucket rows.
    Total compute for a hot bucket is still O(hot²) — that is the
    requested answer (all pairs above threshold within the cluster
    really do exist) — but it is spread across ceil(hot/cap)² bounded
    tasks instead of one unbounded one.
    """
    # Dedup on the PAIR KEY, not the (pair, cos) tuple: the same pair's
    # dot product in two different-shaped bucket matmuls may differ by an
    # ulp (BLAS accumulation order), which round(4) can amplify into two
    # "distinct" rows at a .xxxx5 boundary.  min() is a deterministic
    # pick among the (at most ulp-apart) duplicates.
    return (
        _lsh_groups(embeddings, id_col, vec_col, planes, bands, seed, max_bucket)
        .groupBy("band", "bucket", "__bi", "__bj")
        .applyInPandas(
            lambda key, pdf: _pair_kernel(key, pdf, threshold),
            _pair_schema(embeddings.schema[id_col].dataType),
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cos").alias("cos"))
    )


def _lsh_groups(embeddings, id_col, vec_col, planes, bands, seed, max_bucket):
    """Banded signatures replicated into bounded (band, bucket, __bi,
    __bj) groups; the bucket sizes come from the payload-free signature
    pass, so only the matmul, not the id/vector transfer, runs twice."""
    counts = (
        _banded_signatures(
            embeddings, id_col, vec_col, planes, bands, seed, with_payload=False
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return _bounded_bucket_groups(
        _banded_signatures(embeddings, id_col, vec_col, planes, bands, seed),
        max_bucket,
        counts,
    )


def cluster_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid (spherical) cluster assignment → (id, cluster_id).

    The corpus-organization step after :func:`ivf_train`: topic-cluster
    the whole embedding table for mixture reporting, per-cluster
    sampling rates, or semantic dedup blocking.  Pure map-side work —
    the same kernel as :func:`ivf_assign` (:func:`_nearest_centroid`)
    without the vector payload; no shuffle, no driver action, linear in
    corpus size.  An empty ``centroids`` gives an empty frame.
    """
    import numpy as np
    from pyspark.sql import types as T

    if np.size(centroids) == 0:
        return embeddings.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(id_col, embeddings.schema[id_col].dataType),
                    T.StructField(out_col, T.IntegerType()),
                ]
            ),
        )
    return _nearest_centroid(
        embeddings, centroids, id_col, vec_col, out_col, id_col, False
    ).select(id_col, out_col)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 32,
    max_train_sample: int = 4096,
    kmeans_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0x9C7,
):
    """Train product-quantization codebooks → numpy (m, ksub, d/m)
    float64 — the FAISS-PQ memory tier: each UNIT vector splits into
    ``m`` subspaces and each subvector compresses to one of ``ksub``
    per-subspace centroids, so a d-float vector stores as ``m`` small
    codes (64 d × 4 B → 8 B at m=8: 32× memory).

    Training uses :func:`ivf_train`'s bounded sample
    (:func:`_train_sample`, never O(N) on the driver), then standard L2
    k-means per subspace with a per-subspace seeded init.  Vectors are
    L2-normalized FIRST, so asymmetric-distance inner products
    approximate cosine.  ``ksub`` capped at the sample size; with
    ``ksub == n`` distinct training rows the quantizer is lossless over
    that corpus (each subvector its own centroid) — the property the
    exact-machinery audit pins.  Returns an empty (0, 0, 0) array for an
    empty corpus.
    """
    import numpy as np

    S = _train_sample(embeddings, max_train_sample, id_col, vec_col)
    if not len(S):
        return np.empty((0, 0, 0), dtype=np.float64)
    return _pq_kmeans(S, m, ksub, kmeans_iters, seed)


def _pq_kmeans(S, m: int, ksub: int, kmeans_iters: int, seed: int):
    """Per-subspace L2 k-means over a driver-side (n, d) training matrix
    → (m, min(ksub, n), d/m) codebooks.  Shared by :func:`pq_train`
    (unit vectors) and :func:`ivfpq_train` (coarse residuals) —
    identical op order and per-subspace seeding, so pq_train's output
    is byte-stable across the refactor."""
    import numpy as np

    d = S.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    kc = min(ksub, len(S))
    books = np.empty((m, kc, dsub), dtype=np.float64)
    for j in range(m):
        X = S[:, j * dsub : (j + 1) * dsub]
        rng = np.random.default_rng(seed + j)
        C = X[rng.choice(len(X), size=kc, replace=False)].copy()
        for _ in range(kmeans_iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(kc):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def _pq_codes(V, B):
    """PQ encode: (n, m, d/m) subvectors → (n, m) codes, per subspace the
    argmin ||v_sub − c||² against the (m, ksub, d/m) codebooks."""
    import numpy as np

    codes = np.empty(V.shape[:2], dtype=np.int64)
    for j in range(V.shape[1]):
        d2 = ((V[:, j, None, :] - B[None, j]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    refine: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN → (query_id, neighbor_id, rank): the
    asymmetric-distance (ADC) scan over PQ codes — the memory tier below
    IVF-Flat, for corpora whose raw vectors don't fit the cluster.
    ``codebooks`` come from :func:`pq_train` (a static corpus trains
    once, like :func:`ivf_topk`'s centroids).

    Plan shape: queries (the tiny side by contract, like
    :func:`cosine_topk`) collect to the driver and become per-query
    inner-product lookup tables (nq, m, ksub) broadcast to every
    executor; ONE ``mapInPandas`` pass over the corpus encodes each
    partition's vectors (argmin vs broadcast codebooks) and emits only
    the per-partition top rows per query — table-gather adds, no
    per-pair float math on the full corpus, and the shuffle after the
    scan carries ≤ partitions × nq × max(refine, 1)·k rows into the
    global top-k window.

    ``refine > 0`` adds the standard exact re-rank (FAISS refine
    layout): the ADC scan keeps ``refine × k`` candidates per query and
    scores THOSE exactly in the same pass (the raw vectors are already
    in hand — no second corpus join); the global window then ranks by
    exact cosine.  On structureless random fixtures pure ADC recalls
    ~0.4@10 — the worst case, neighbor gaps sit below quantization
    distortion — while refine=8 recovers ≥0.9 and still does exact math
    on only a candidate sliver.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    idtype = embeddings.schema[id_col].dataType
    B = np.asarray(codebooks, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("query_id", idtype),
            T.StructField("neighbor_id", idtype),
            T.StructField("__score", T.DoubleType()),
        ]
    )
    qrows = queries.select(id_col, vec_col).collect()
    if B.size == 0 or not qrows:
        return embeddings.sparkSession.createDataFrame([], out_schema).select(
            "query_id", "neighbor_id", F.lit(1).alias("rank")
        ).filter(F.lit(False))
    mm, kc, dsub = B.shape
    Q = _unit(_matrix(r[1] for r in qrows))
    # per-query ADC tables: T[q, j, c] = q_sub_j · codebook[j][c]
    tabs = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), mm, dsub), B)
    qids = [r[0] for r in qrows]
    keep_n = max(refine, 1) * k
    spark = embeddings.sparkSession
    bc_books = spark.sparkContext.broadcast(B)
    bc_tabs = spark.sparkContext.broadcast(tabs)
    bc_q = spark.sparkContext.broadcast(Q if refine > 0 else None)

    def scan(it):
        Bm = bc_books.value
        Tq = bc_tabs.value
        Qm = bc_q.value
        jar = np.arange(mm)
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = _unit(_matrix(pdf[vec_col])).reshape(-1, mm, dsub)
            codes = _pq_codes(V, Bm)
            ids = pdf[id_col].to_numpy()
            flat = V.reshape(len(V), -1)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(Tq)):
                s = Tq[qi][jar[None, :], codes].sum(axis=1)
                # exclude the query's own row HERE: post-filtering would
                # let the self-match (score 1.0) burn a top slot and
                # silently drop one real candidate from this partition
                keep = ids != qids[qi]
                ks, kids, kflat = s[keep], ids[keep], flat[keep]
                top = np.lexsort((kids, -ks))[: min(keep_n, len(kids))]
                sc = kflat[top] @ Qm[qi] if Qm is not None else ks[top]
                out_q.extend([qids[qi]] * len(top))
                out_n.extend(kids[top])
                out_s.extend(sc)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "__score": out_s}
            )

    cand = (
        embeddings.select(id_col, vec_col)
        .mapInPandas(scan, out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _rank_topk(cand, k, "__score")


# ---------------------------------------------------------------------------
# SQ8: int8 scalar quantization — the simplest ANN memory tier (4× smaller
# than float32, 8× smaller than the double working set), and the only lossy
# tier whose scoring is EXACTLY SQL-replayable (pure per-dim arithmetic, no
# trained codebooks), so the driver hash-checks the full neighbor surface
# instead of a recall bound.
# ---------------------------------------------------------------------------


def sq8_train(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension [min, max] bounds → a 1-row frame
    ``(mn array<double>, mx array<double>)``.

    Fully distributed: posexplode → per-dim agg → collect_list into
    ordered arrays inside a 1-row aggregate — no driver action, no
    sampled train set (bounds are exact corpus min/max).  Like the
    IVF/PQ artifacts, persist the 1-row frame to parquet and reuse it
    for every future encode.
    """
    pe = embeddings.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("d", "v")
    )
    mm = pe.groupBy("d").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    packed = F.array_sort(F.collect_list(F.struct("d", "mn", "mx")))
    return mm.agg(
        F.transform(packed, lambda s: s["mn"]).alias("mn"),
        F.transform(packed, lambda s: s["mx"]).alias("mx"),
    )


def _sq8_codes(vec, mn, mx):
    """floor-quantize to 0..255; constant dims (mx==mn) code to 0.
    floor (not round) keeps the encode bit-identical across engines —
    no half-way tie semantics to align.  Clamped on BOTH ends: bounds
    are meant to be persisted and reused (see sq8_train), so a future
    encode can see values outside the trained [mn, mx] — below-min must
    saturate to 0 exactly as above-max saturates to 255."""
    return F.zip_with(
        vec,
        F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))),
        lambda v, s: F.when(
            s["mx"] > s["mn"],
            F.greatest(
                F.least(
                    F.floor((v - s["mn"]) * 255.0 / (s["mx"] - s["mn"])),
                    F.lit(255),
                ),
                F.lit(0),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def sq8_encode(
    embeddings: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → ``(id, codes array<int>)`` via the broadcast 1-row
    bounds frame.  Map-only; at 100 TB this is the one full-corpus pass
    that writes the compressed store."""
    return embeddings.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col),
        _sq8_codes(_as_double(F.col(vec_col)), F.col("mn"), F.col("mx")).alias(
            "codes"
        ),
    )


def sq8_topk(
    codes: DataFrame,
    bounds: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over the SQ8 store → (query_id, neighbor_id, rank):
    dequantize ``mn + code·(mx−mn)/255`` per dim, cosine against the
    raw query vector, per-query top-k window with (cos DESC, id ASC)
    tiebreak — the same contract as :func:`cosine_topk`, over vectors
    a quarter the size.  Queries and bounds broadcast; the corpus scan
    stays map-side until the one top-k exchange."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    deq = F.zip_with(
        F.col("codes"),
        F.zip_with(
            F.col("mn"), F.col("mx"),
            lambda a, b: F.struct(a.alias("mn"), b.alias("mx")),
        ),
        lambda c, s: s["mn"] + c * (s["mx"] - s["mn"]) / 255.0,
    )
    scored = (
        codes.crossJoin(F.broadcast(bounds))
        .select(F.col(id_col).alias("neighbor_id"), deq.alias("ev"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _rank_topk(_exact_cos(scored), k)


def mutual_top1_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RECIPROCAL BEST MATCH: pairs (a, b) where b is a's single nearest
    cosine neighbor AND a is b's — the high-precision candidate
    generator entity resolution and cross-lingual alignment use when
    one-sided nearest neighbors are too noisy (hub vectors attract many
    one-sided matches; reciprocity filters them without any threshold
    to tune).

    Built on :func:`cosine_pairs`' Arrow/BLAS block-pair kernel
    (threshold −2 keeps every pair; the exact O(N²·d) compute runs as
    numpy matmul per block-pair task — measured 6× faster than the
    interpreted zip_with fold for this shape), then ONE map-side-
    combinable argmax per node (min over a (−cos, neighbor) struct —
    ties break to the SMALLER neighbor id in the id's own natural
    order, matching the definitional window's ORDER BY cos DESC, id
    ASC for any orderable id type: only the numeric cos is negated,
    never the id, so string/uuid ids order correctly) and a self-join
    keeping rows
    whose reverse row exists.  Returns (vec_a, vec_b, cos) with
    vec_a < vec_b, one row per mutual pair.  At corpus scale the same
    reciprocity tail composes over the LSH/IVF candidate generators
    instead of exact all-pairs (reciprocity is a per-pair property, so
    any complete candidate set preserves it); this exact form is the
    definitional baseline the driver hash-checks.
    """
    pairs = cosine_pairs(
        embeddings, threshold=-2.0, id_col=id_col, vec_col=vec_col
    )
    return reciprocal_best_pairs(pairs)


def reciprocal_best_pairs(pairs: DataFrame) -> DataFrame:
    """The reciprocity TAIL over any symmetric candidate pair frame
    (vec_a, vec_b, cos): per-node argmax (one map-side-combinable
    min over a (−cos, neighbor) struct — ties to the smaller id in the
    id's own natural order), then a self-join keeping pairs present in
    both directions.  Reciprocity is a per-pair property, so composed
    over a COMPLETE candidate set (exact all-pairs,
    :func:`mutual_top1_pairs`) it is the definition; over an
    approximate generator (:func:`cosine_pairs_lsh`, IVF) the result
    inherits the generator's recall — audit with the recall_* pattern.
    Returns (vec_a, vec_b, cos) with vec_a < vec_b."""
    sym = pairs.select(
        F.col("vec_a").alias("node"),
        F.col("vec_b").alias("other"),
        "cos",
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("node"),
            F.col("vec_a").alias("other"),
            "cos",
        )
    )
    return _mutual_from_best(sym)


def _mutual_from_best(best: DataFrame) -> DataFrame:
    """Merge per-node best-candidate PARTIALS (node, other, cos — any
    number of rows per node) into the global per-node argmax and keep
    the reciprocal pairs.  The argmax is one map-side-combinable
    min over a (−cos, neighbor) struct (ties to the smaller neighbor
    id in its own natural order), so partials from different candidate
    sources/tasks merge without re-scoring."""
    top1 = (
        best.groupBy("node")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("negc"),
                    F.col("other").alias("oid"),
                )
            ).alias("m")
        )
        .select(
            F.col("node").alias("query_id"),
            F.col("m.oid").alias("neighbor_id"),
            (-F.col("m.negc")).alias("cos"),
        )
    )
    rev = top1.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    return (
        top1.join(rev, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "cos",
        )
    )


def cosine_best_match(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-1 for a BOUNDED query set → (query_id,
    neighbor_id, cos) — the brute-force arm recall audits lean on
    (mutual_knn_lsh's 256-probe sampled baseline).  The query set is
    collected to the driver and shipped in the task closure, so
    callers keep |Q| small (hundreds); the corpus side stays fully
    distributed: each embedding partition batch computes ONE
    (|Q| × batch) numpy matmul and emits a partial best per query,
    and partials merge with the same map-side-combinable
    (−cos, id)-struct-min the LSH kernel uses.  ~100× the throughput
    of the interpreted zip_with dot in :func:`cosine_topk` for the
    same answer (measured 16.6s → <1s at |Q|=256 over 5k vectors).

    Cosines are rounded to the 4-dp grain BEFORE the per-batch argmax
    (ties then break to the smallest neighbor id via id-ascending
    column order + first-occurrence argmax), so the winner is batch-
    boundary invariant and matches the (cos DESC, id ASC) window the
    oracles state — for integer (or ASCII-string) ids.  For non-ASCII
    STRING ids numpy's argsort orders by unicode codepoints while the
    cross-batch struct-min merge compares UTF-8 bytes (Spark's binary
    string order), so tie winners can diverge between the in-batch and
    cross-batch paths — the same caveat mutual_top1_pairs_lsh
    discloses; use integer ids when tie identity must be exact.
    Self-matches are masked by id equality."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qrows = queries.select(id_col, vec_col).collect()
    idtype = embeddings.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", idtype),
            T.StructField("neighbor_id", idtype),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    if not qrows:
        return embeddings.sparkSession.createDataFrame([], schema)
    qids = np.array([r[0] for r in qrows])
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)

    def scan(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids_s = ids[order]
            E = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )[order]
            en = np.linalg.norm(E, axis=1, keepdims=True)
            En = E / np.where(en == 0, 1.0, en)
            sims = np.round(Qn @ En.T, 4)
            sims[qids[:, None] == ids_s[None, :]] = -2.0
            j = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": ids_s[j],
                    "cos": sims[np.arange(len(qids)), j],
                }
            )

    best = embeddings.select(id_col, vec_col).mapInPandas(scan, schema)
    return (
        best.groupBy("query_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("negc"),
                    F.col("neighbor_id").alias("oid"),
                )
            ).alias("m")
        )
        .select(
            "query_id",
            F.col("m.oid").alias("neighbor_id"),
            (-F.col("m.negc")).alias("cos"),
        )
    )


def mutual_top1_pairs_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    bands: int = 32,
    seed: int = 0xC051,
    max_bucket: int = 4096,
) -> DataFrame:
    """RECIPROCAL BEST MATCH over the LSH candidate generator — the
    100-TB composition :func:`mutual_top1_pairs` promises.  The key
    scale move vs ``reciprocal_best_pairs(cosine_pairs_lsh(θ=−2))``:
    the per-(band, bucket) Arrow kernel reduces each bucket to ONE
    best-candidate row per member (argmax inside the matmul task), so
    the shuffle carries ~bands·N partial-best rows instead of
    Σ|bucket|² materialized candidate pairs — the argmax merge is then
    a map-side-combinable struct-min (:func:`_mutual_from_best`).

    Tie-break parity with the exact form: cosines are rounded to the
    4-dp grain first, and each bucket's columns are pre-sorted by id
    ascending so numpy's first-occurrence argmax picks the SMALLEST
    tied id — the same (cos DESC, id ASC) order the exact argmax and
    the oracle window state.  (In-bucket id order is numpy's sort; for
    integer ids — the common case — it matches Spark's, which is what
    the cross-bucket struct-min uses.)

    Recall inherits the banded-signature curve 1−(1−p^planes)^bands;
    precision is exact on the emitted pairs (every cosine computed).
    Returns (vec_a, vec_b, cos), vec_a < vec_b.
    """
    best = (
        _lsh_groups(embeddings, id_col, vec_col, planes, bands, seed, max_bucket)
        .groupBy("band", "bucket", "__bi", "__bj")
        .applyInPandas(
            _group_best_kernel,
            _pair_schema(embeddings.schema[id_col].dataType, "node", "other"),
        )
    )
    return _mutual_from_best(best)


def _group_best_kernel(key, pdf):
    """Per-(group, block-pair) argmax Arrow kernel shared by the LSH and
    IVF reciprocal-kNN compositions: reduce a candidate group (an LSH
    bucket / an IVF posting list, possibly block-decomposed by
    :func:`_bounded_bucket_groups`) to ONE best-candidate row per
    member.  Cosines round to 4dp BEFORE the argmax and columns are
    pre-sorted by id so numpy's first-occurrence argmax picks the
    smallest tied id — (cos DESC, id ASC), the exact form's order."""
    import numpy as np
    import pandas as pd

    _, _, bi, bj = key
    ids = pdf["__id"].to_numpy()
    empty = pd.DataFrame({"node": [], "other": [], "cos": []})
    if len(ids) < 2:
        return empty
    # zero-norm guard: a zero embedding must contribute cos 0 rows, not
    # NaNs that poison the struct-min merge downstream
    m = _unit(_matrix(pdf["__v"]))
    order = np.argsort(ids, kind="stable")
    ids_s, m_s = ids[order], m[order]
    if bi == bj:
        sims = np.round(m_s @ m_s.T, 4)
        np.fill_diagonal(sims, -2.0)
        j = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "node": ids_s,
                "other": ids_s[j],
                "cos": sims[np.arange(len(ids_s)), j],
            }
        )
    blks = pdf["__blk"].to_numpy()[order]
    a = np.nonzero(blks == bi)[0]
    b = np.nonzero(blks == bj)[0]
    if len(a) == 0 or len(b) == 0:
        return empty
    sims = np.round(m_s[a] @ m_s[b].T, 4)
    ja = np.argmax(sims, axis=1)
    jb = np.argmax(sims, axis=0)
    return pd.DataFrame(
        {
            "node": np.concatenate([ids_s[a], ids_s[b]]),
            "other": np.concatenate([ids_s[b][ja], ids_s[a][jb]]),
            "cos": np.concatenate(
                [
                    sims[np.arange(len(a)), ja],
                    sims[jb, np.arange(len(b))],
                ]
            ),
        }
    )


def mutual_top1_pairs_ivf(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    max_bucket: int = 4096,
) -> DataFrame:
    """RECIPROCAL BEST MATCH over the IVF candidate generator — the
    data-ADAPTIVE sibling of :func:`mutual_top1_pairs_lsh` (coarse
    k-means lists follow the corpus distribution; sign-LSH buckets are
    data-independent).  Each vector is replicated to its ``nprobe``
    nearest coarse centroids, every (list) group runs the shared
    :func:`_group_best_kernel` argmax (hot lists block-decomposed by
    ``max_bucket`` like LSH buckets), and partials merge through the
    same map-side struct-min.  A pair is found iff the two vectors
    co-probe at least one list — on clustered corpora reciprocal pairs
    share their home cluster and recall ≈ 1; on structureless data
    recall follows the co-probe probability (audited by the suite's
    sampled exact baseline, the mutual_knn_lsh pattern).

    Scale levers: the centroid count of :func:`ivf_train` grows with N
    (bounded list occupancy → compute ~ N·nprobe·list_size), ``nprobe``
    trades compute for recall without retraining.  An empty
    ``centroids`` gives an empty result.
    Returns (vec_a, vec_b, cos), vec_a < vec_b."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    idtype = embeddings.schema[id_col].dataType
    if len(centroids) == 0:
        return embeddings.sparkSession.createDataFrame([], _pair_schema(idtype))
    Cn = _unit(np.asarray(centroids, dtype=np.float64))
    npb = min(nprobe, len(Cn))
    list_schema = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("__id", idtype),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
    )
    count_schema = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def probe_lists(it, with_payload=True):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            E = _matrix(pdf[vec_col])
            sims = _unit(E) @ Cn.T
            # top-npb lists per vector; order within the probe set is
            # irrelevant (membership only)
            top = np.argpartition(-sims, npb - 1, axis=1)[:, :npb]
            rows = len(ids)
            cols = {
                "band": np.zeros(rows * npb, dtype=np.int32),
                "bucket": top.reshape(-1).astype(np.int64),
            }
            if with_payload:
                cols["__id"] = np.repeat(ids, npb)
                # rows of one numpy matrix, never per-element python
                # lists — Arrow ingests ndarray cells directly and the
                # float-object churn was measurable at N·nprobe rows
                cols["__v"] = list(E[np.repeat(np.arange(rows), npb)])
            yield pd.DataFrame(cols)

    lists = embeddings.select(id_col, vec_col).mapInPandas(
        probe_lists, list_schema
    )
    # payload-free counting pass (the _banded_signatures with_payload
    # design): _bounded_bucket_groups' bucket-size aggregate would
    # otherwise re-execute the FULL vector-carrying probe — the count
    # branch and the replication branch are separate shuffles, so the
    # map stage runs once per consumer; dropping id/vector from the
    # counting arm re-runs only the matmul, not the Arrow transfer
    counts = (
        embeddings.select(id_col, vec_col)
        .mapInPandas(
            lambda it: probe_lists(it, with_payload=False), count_schema
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    best = (
        _bounded_bucket_groups(lists, max_bucket, counts)
        .groupBy("band", "bucket", "__bi", "__bj")
        .applyInPandas(_group_best_kernel, _pair_schema(idtype, "node", "other"))
    )
    return _mutual_from_best(best)


def ivfpq_train(
    embeddings: DataFrame,
    centroids,
    m: int = 8,
    ksub: int = 32,
    max_train_sample: int = 4096,
    kmeans_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0xA11,
):
    """Train RESIDUAL product-quantization codebooks for IVF-PQ →
    numpy (m, ksub, d/m): the FAISS IVFPQ layout, where PQ compresses
    the residual r = unit(v) − C[list(v)] instead of the vector itself.
    Residuals concentrate near the origin of each list (the coarse
    quantizer has already explained the between-list variance), so the
    same code budget spends its centroids on a much tighter
    distribution — the reason production ANN composes the two tiers
    rather than running PQ flat.

    Same bounded sample as :func:`ivf_train`/:func:`pq_train`
    (:func:`_train_sample`, never O(N) on the driver); the per-subspace
    k-means is the SAME `_pq_kmeans` pq_train uses.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    S = _train_sample(embeddings, max_train_sample, id_col, vec_col)
    if not len(S) or C.size == 0:
        return np.empty((0, 0, 0), dtype=np.float64)
    R = S - C[np.argmax(S @ C.T, axis=1)]
    return _pq_kmeans(R, m, ksub, kmeans_iters, seed)


def ivfpq_probe(
    store: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 10,
    nprobe: int = 8,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ serving pass over an assigned store ``(centroid,
    neighbor_id, __v)`` → (query_id, neighbor_id, rank).

    Scoring decomposes exactly: for v in list c with residual r,
    q·unit(v) = q·C[c] + q·r ≈ q·C[c] + Σ_j tab[q, j, code_j(r)] —
    the per-query ADC tables are the same (q_sub · book) gathers as
    flat PQ, PLUS one scalar per probed list, so the probe ships NO
    per-pair float math and the table memory is independent of which
    lists are probed.

    Plan shape (leaner than :func:`ivf_probe`'s equi-join): queries
    collect (tiny side by contract) into broadcast probe masks + ADC
    tables; ONE ``mapInPandas`` pass over the store encodes each
    partition's residuals (m argmins vs the broadcast books), scores
    only rows whose list each query probes, keeps ``refine × k``
    candidates per (partition, query) and re-ranks THOSE exactly from
    the raw vectors already in hand — the shuffle after the scan
    carries ≤ partitions × nq × refine·k rows into the global top-k
    window.  No candidate replication, no raw-vector join traffic:
    the 100-TB form scans the parquet store once, map-side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    idtype = queries.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", idtype),
            T.StructField("neighbor_id", idtype),
            T.StructField("__score", T.DoubleType()),
        ]
    )
    spark = queries.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows or C.size == 0 or B.size == 0:
        return spark.createDataFrame([], out_schema).select(
            "query_id", "neighbor_id", F.lit(1).alias("rank")
        ).filter(F.lit(False))
    mm, kc_sub, dsub = B.shape
    Q = _unit(_matrix(r[1] for r in qrows))
    qids = [r[0] for r in qrows]
    qc = Q @ C.T                                    # (nq, kc) list offsets
    order = np.argsort(-qc, axis=1)[:, : min(nprobe, len(C))]
    probe_mask = np.zeros((len(Q), len(C)), dtype=bool)
    for qi in range(len(Q)):
        probe_mask[qi, order[qi]] = True
    tabs = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), mm, dsub), B)
    keep_n = max(refine, 1) * k
    # Qm None at refine=0: the emitted score is then the raw ADC sum —
    # pq_topk's contract, which the lossless twin leans on (a re-rank
    # must not be allowed to mask a broken ADC stage)
    bc = spark.sparkContext.broadcast(
        (C, B, qc, probe_mask, tabs, Q if refine > 0 else None)
    )

    def scan(it):
        Cm, Bm, qcm, pm, Tq, Qm = bc.value
        jar = np.arange(mm)
        for pdf in it:
            if len(pdf) == 0:
                continue
            Vu = _unit(_matrix(pdf["__v"]))
            cid = pdf["centroid"].to_numpy()
            codes = _pq_codes((Vu - Cm[cid]).reshape(len(Vu), mm, dsub), Bm)
            ids = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for qi in range(len(Tq)):
                keep = pm[qi, cid] & (ids != qids[qi])
                if not keep.any():
                    continue
                s = qcm[qi, cid[keep]] + Tq[qi][
                    jar[None, :], codes[keep]
                ].sum(axis=1)
                kids = ids[keep]
                top = np.lexsort((kids, -s))[: min(keep_n, len(kids))]
                sc = Vu[keep][top] @ Qm[qi] if Qm is not None else s[top]
                out_q.extend([qids[qi]] * len(top))
                out_n.extend(kids[top])
                out_s.extend(sc)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "__score": out_s}
            )

    cand = store.select("centroid", "neighbor_id", "__v").mapInPandas(
        scan, out_schema
    )
    return _rank_topk(cand, k, "__score")


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 10,
    nprobe: int = 8,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN → (query_id, neighbor_id, rank): the PRODUCTION
    composition of the two certified tiers — IVF's coarse pruning
    (probe nprobe of the centroid lists) over PQ's 32×-compressed
    residual codes, with exact re-rank of the refine×k sliver.  This
    is the FAISS IVFPQ + refine layout: IVF alone still ships raw
    vectors through its probe join; PQ alone still scans every row;
    composed, the scan touches only probed lists and reads m bytes per
    vector until the final sliver.

    Stages (each reusable/persistable like its parents):
    1. coarse — ``centroids`` from :func:`ivf_train`;
    2. residual books — ``codebooks`` from :func:`ivfpq_train`;
    3. assign — :func:`ivf_assign` (the same store layout as IVF-Flat,
       so a standing IVF store upgrades to IVF-PQ without re-assign);
    4. serve — :func:`ivfpq_probe` (one map pass, broadcast tables;
       empty centroids or codebooks give an empty result).
    """
    return ivfpq_probe(
        ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col),
        queries,
        centroids,
        codebooks,
        k=k,
        nprobe=nprobe,
        refine=refine,
        id_col=id_col,
        vec_col=vec_col,
    )
