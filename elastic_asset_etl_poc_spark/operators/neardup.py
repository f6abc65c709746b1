"""Deduplication operators for training-data pipelines.

Exact dedup, n-gram Jaccard similarity join, MinHash+LSH near-dup, and
SimHash fingerprints — the standard large-corpus dedup ladder.  All are
pure DataFrame plans (no Python UDFs): hashing uses Spark's builtin
``xxhash64``/``md5``; set algebra is explode → hash-join → hash-agg, which
scales linearly and spills.

Scale posture (100 TB):
  * Exact dedup: one hash-agg on a 128-bit digest — never ``distinct`` on
    raw multi-KB text (shuffle writes the digest, not the document).
  * Jaccard join: inverted-index self-join on shingles.  The classic
    hazard is hot shingles (stop-phrases) exploding the join; cap document
    frequency with ``max_doc_freq`` — standard practice and a no-op on
    pair recall for high thresholds when the cap ≫ corpus dup group size.
  * MinHash+LSH: replaces the all-pairs shingle join with band-bucket
    candidate generation — cost O(docs · bands) instead of O(pairs);
    candidates are then *verified* with exact Jaccard so precision is 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import tokens


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest; keeps the smallest id as survivor.

    Returns (text_md5, keep_id, n_docs) — one row per distinct content.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document → (doc_id, shingle).

    ``id_col`` names the INPUT column; the output id column is ALWAYS
    ``doc_id`` (every downstream set operator — capped_sets, the pair
    builders, decontamination — consumes that canonical name).  A
    caller grouping by source/entity rather than document gets its
    values under ``doc_id`` and should rename or comment at the call
    site.

    Shingle construction happens inside ``transform`` over the token array
    (JVM lambda, no explode until the final step), then one explode+distinct.
    ``distinct=False`` skips the final dedup shuffle for consumers whose
    downstream aggregate is idempotent under duplicates (the streaming
    KMV bucketed-min path — a STREAMING frame cannot afford the unbounded
    dropDuplicates state anyway) — set semantics become the caller's
    responsibility.
    """
    # Materialize the token array into a column FIRST: referencing split()
    # inside the transform lambda would re-tokenize per shingle (quadratic —
    # measured 10× slower).  Guard short docs explicitly: sequence(1, 0)
    # generates a DESCENDING [1, 0] and index 0 errors under ANSI mode.
    tdf = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    sh = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + F.lit(j)) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = tdf.select("doc_id", F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def capped_sets(sh0: DataFrame, max_doc_freq: int | None = 10_000):
    """LAZY doc-frequency cap over ANY (doc_id, shingle) set frame →
    (capped, staging_cache).

    The hot-element cap is an aggregate + broadcast anti-join against
    the (tiny) hot set — a map-side filter, not a per-element window
    sort over the full posting list (plan-asserted in
    test_plans_physical).  ``staging_cache`` is the pre-cap cached frame
    to unpersist after materialization (None when the cap is off).
    """
    if max_doc_freq is None:
        return sh0, None
    # cache the pre-cap frame: it feeds BOTH the hot-set aggregate and
    # the anti-join probe — uncached, the upstream explode runs twice
    sh0 = sh0.cache()
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle")
    )
    return sh0.join(F.broadcast(hot), "shingle", "left_anti"), sh0


def set_similarity_pairs(
    sh0: DataFrame,
    threshold: float,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard similarity join over ANY (doc_id, shingle) set
    frame → (doc_a, doc_b, jaccard) — the inverted-index core shared by
    text n-gram shingles and video frame-hash sets.  ``shingle`` may be
    any equatable type.  Input must already be DISTINCT per (doc_id,
    shingle) — set semantics are the caller's contract (``shingles()``
    ends in distinct; adding one here would pay a redundant shuffle).
    See :func:`jaccard_pairs` for the cap rationale.
    """
    stats = _pair_stats(sh0, max_doc_freq)
    return stats.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(threshold))


def _pair_stats(
    sh0: DataFrame, max_doc_freq: int | None = 10_000
) -> DataFrame:
    """Shared inverted-index pair core → (doc_a, doc_b, i, na, nb):
    intersection size from the shingle self-join, set sizes joined back
    — everything every set-overlap score (Jaccard, containment, Dice)
    needs, with the score arithmetic left to the caller."""
    sh, staging = capped_sets(sh0, max_doc_freq)
    # Materialize eagerly: the frame feeds 3 branches of one action, and
    # concurrently-scheduled stages would each recompute a lazy cache.
    sh = sh.localCheckpoint(eager=True)
    if staging is not None:
        staging.unpersist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def containment_pairs(
    df: "DataFrame",
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = 10_000,
) -> "DataFrame":
    """ASYMMETRIC near-dup join: max-containment C = |A∩B| / min(|A|,|B|)
    → (doc_a, doc_b, containment, jaccard).

    Jaccard punishes size mismatch: a 100-shingle document fully embedded
    in a 1000-shingle one scores J = 100/1000 = 0.1 and sails through a
    0.8 dedup pass, yet for training-data purposes the small doc is pure
    duplication (quote-inflation, boilerplate wrappers, article+comments
    scrapes).  Containment is the score that catches doc-inside-doc; the
    jaccard column rides along so consumers can see exactly the pairs the
    symmetric pass misses (high C, low J).

    Same inverted-index core as :func:`jaccard_pairs` (shared
    ``capped_sets`` hot-shingle cap, hash joins/aggs only — no cross
    product), so the scale posture is identical; only the final score
    arithmetic differs.
    """
    stats = _pair_stats(
        shingles(df, n=n, text_col=text_col, id_col=id_col), max_doc_freq
    )
    c = F.round(F.col("i") / F.least(F.col("na"), F.col("nb")), 4)
    j = F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4)
    return stats.select(
        "doc_a",
        "doc_b",
        c.alias("containment"),
        j.alias("jaccard"),
    ).filter(F.col("containment") >= F.lit(threshold))


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join → (doc_a, doc_b, jaccard).

    |A∩B| from the inverted-index self-join, |A|,|B| from per-doc shingle
    counts, J = i / (na + nb − i).  Every step is a hash join/agg on
    shingle or (doc_a, doc_b) keys — no cross product is ever materialized.

    ``max_doc_freq`` caps shingle document frequency and is ON by default:
    a single stop-phrase shingle shared by d documents contributes d²/2
    candidate pairs to the inverted-index join — the classic quadratic
    blowup at corpus scale.  Shingles above the cap carry ~zero Jaccard
    signal for high thresholds (they shift J by ≤ 1/|A∪B| per dropped
    shingle) and are dropped on BOTH the intersection and the size side,
    so J stays a true Jaccard over the capped shingle universe.  The
    oracle SQL mirrors the cap, keeping the operator hash-checkable.
    Pass ``None`` to disable (exact small-corpus audits only).

    The cap itself is an aggregate + broadcast anti-join against the
    (tiny) hot-shingle set — a map-side filter, not a per-shingle window
    sort over the full posting list.
    """
    return set_similarity_pairs(
        shingles(df, n=n, text_col=text_col, id_col=id_col),
        threshold,
        max_doc_freq=max_doc_freq,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verified.

    Signatures come from an affine permutation family over one base hash
    per shingle (num_hashes min-aggregates in a single hash-agg — no
    ×num_hashes row blowup).  Bands of ``num_hashes/bands`` signature rows
    hash to buckets; docs sharing any bucket become candidates; candidates
    are verified with the exact Jaccard of their shingle sets, so output
    precision is exact — LSH only bounds recall (≥ 1−(1−t^r)^b).

    With 64 hashes / 16 bands (r=4), P[candidate] at J=0.8 is ≈ 0.9996.
    At 100 TB this is the scale path: cost O(docs·hashes), no all-pairs
    shingle join.

    Signature kernel: ``collect_list`` the base hashes per doc (one
    shuffle), then one Arrow ``mapInPandas`` computes all
    ``(a·x + b) mod p`` minima vectorized — ``num_hashes`` JVM
    min-aggregates would exceed the codegen method limit and run
    interpreted.

    Memory note: the kernel materializes one row per doc holding all
    its distinct shingle hashes — typical documents are 10³-10⁴ shingles
    (KBs); a pathological machine-generated doc with ≥10⁷ shingles should
    be length-truncated upstream (quality filters do this anyway).
    """
    buckets, sh = _minhash_buckets(
        df,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        text_col=text_col,
        id_col=id_col,
    )
    ca = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    cb = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    candidates = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_candidates(sh, sh, candidates, threshold)


def hashed_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct int64-hashed word n-gram shingles per doc → (doc_id,
    shingle BIGINT): xxhash64 over the n token columns directly — no
    string concat, 8-byte join/shuffle keys instead of ~50-byte strings.
    Collision probability ~n²/2⁶⁴ (≈1e-9 at 1M shingles) is the standard
    accepted trade for near-dup candidate generation.  The MinHash
    self-join and incremental-store paths MUST share this exact hashing
    (a stored bucket table is only join-compatible with batches hashed
    the same way)."""
    tdf = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    hashed = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
            lambda i: F.xxhash64(*[F.element_at(t, i + F.lit(j)) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return tdf.select("doc_id", F.explode(hashed).alias("shingle")).distinct()


def _minhash_buckets(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Shared MinHash signature + banded-bucket stage →
    (buckets(doc_id, band, bucket), sh(doc_id, shingle)) — the exact
    kernel of :func:`minhash_lsh_pairs`, factored out so the incremental
    store path reuses identical integer math (same PRNG seed, same
    banding; a stored bucket table stays join-compatible forever)."""
    rows_per_band = num_hashes // bands
    # eager: 4 branches of one action would race a lazy cache;
    # localCheckpoint materializes in one job without cache+count's
    # extra full re-scan of the cached frame
    sh = hashed_shingles(df, n=n, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=True
    )

    # Affine permutation family over one base hash: mh_i = min over shingles
    # of pmod(a_i·x + b_i, p), x = xxhash64(shingle).  One row per doc
    # holding its base hashes — no ×num_hashes row blowup (the naive seed
    # cross join is ~10× slower at 5k docs and catastrophically worse at
    # 100 TB).  Constants from a fixed PRNG seed.
    import random

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rng = random.Random(0x5EED)
    p = (1 << 31) - 1  # Mersenne prime
    coeffs = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]
    xed = sh.withColumn("x", F.pmod(F.xxhash64("shingle"), F.lit(p)))  # hash once
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    idtype = df.schema[id_col].dataType
    sig_schema = T.StructType(
        [T.StructField("doc_id", idtype)]
        + [T.StructField(f"mh{i}", T.LongType()) for i in range(num_hashes)]
    )

    def signatures(it):
        for pdf in it:
            m = len(pdf)
            if m == 0:
                continue
            mh = np.empty((m, num_hashes), dtype=np.int64)
            for i, xs in enumerate(pdf["xs"]):
                x = np.asarray(xs, dtype=np.int64)
                # a < p < 2^31 and x < p keep a·x + b < 2^62: no overflow
                mh[i] = ((A[:, None] * x[None, :] + B[:, None]) % p).min(axis=1)
            out = {"doc_id": pdf["doc_id"]}
            for j in range(num_hashes):
                out[f"mh{j}"] = mh[:, j]
            yield pd.DataFrame(out)

    sig = (
        xed.groupBy("doc_id")
        .agg(F.collect_list("x").alias("xs"))
        .mapInPandas(signatures, sig_schema)
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for band in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return buckets, sh


def _verify_candidates(
    sh_a: DataFrame, sh_b: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair frame against the
    (doc_id, shingle) set frames of each side → (doc_a, doc_b, jaccard)
    at ``threshold``.  Shared by the self-join and incremental paths."""
    sizes_a = sh_a.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes_b = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_a.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_b.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(candidates, "doc_a")
        .join(b, ["shingle", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes_a.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes_b.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """SimHash fingerprint per document → (doc_id, simhash).

    Each token occurrence hashes once (``xxhash64``); each of the 64 bit
    positions accumulates ±1 by that bit; the sign vector packs back into
    an int64 (bit 63 carries −2⁶³).

    Kernel: ``collect_list`` the token hashes per doc (one hash-agg
    shuffle, no ×bits row blowup), then an Arrow ``mapInPandas``
    computes the vote matrix and packs the sign bits — ``bits`` JVM
    conditional-sum aggregates would exceed the codegen method limit
    and run interpreted.  It holds one row per doc of token hashes (see
    the memory note on :func:`minhash_lsh_pairs`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    toks = F.explode(tokens(text_col))
    t = df.select(F.col(id_col).alias("doc_id"), toks.alias("tok")).withColumn(
        "h", F.xxhash64("tok")
    )
    idtype = df.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField("doc_id", idtype), T.StructField("simhash", T.LongType())]
    )
    weights = np.array(
        [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)], dtype=np.int64
    )
    shifts = np.arange(bits, dtype=np.int64)

    def fingerprints(it):
        for pdf in it:
            m = len(pdf)
            if m == 0:
                continue
            fps = np.empty(m, dtype=np.int64)
            for i, hs in enumerate(pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64)
                bvals = (h[:, None] >> shifts) & 1  # (n_tokens, bits)
                votes = (2 * bvals - 1).sum(axis=0)
                fps[i] = np.where(votes > 0, weights, 0).sum(dtype=np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": fps})

    return (
        t.groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"))
        .mapInPandas(fingerprints, schema)
    )


def simhash_neardup(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs → (doc_a, doc_b, hamming).

    Banded exact-match candidate generation: split the 64-bit fingerprint
    into ``max_hamming + 1`` chunks — any pair within ``max_hamming`` bits
    must agree exactly on at least one chunk (pigeonhole), so candidates
    come from equality joins on chunks (shuffle on 16-bit keys, never
    all-pairs), then verify with ``bit_count(a XOR b)``.  This is the
    standard scalable simhash dedup layout (Manku et al., WWW'07 —
    public-literature algorithm).

    Hot-chunk skew (a dup cluster sharing one chunk value) is handled by
    the ENGINE here: the candidate step is a plain equi-join, so AQE
    skew-join splitting (on in ``session.get_spark``) subdivides an
    oversized join partition at runtime.  Contrast
    ``similarity.cosine_pairs_lsh``, whose per-bucket kernel is an
    ``applyInPandas`` group AQE cannot split — that one needs the manual
    ``max_bucket`` block-pair decomposition.  Declaring the plan
    relationally whenever possible is exactly what makes the skew story
    free.
    """
    # precomputed (doc_id, simhash) lets an audit share one fingerprint
    # pass between the banded and exact-verification sides
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash(df, text_col=text_col, id_col=id_col)
    )
    return banded_hamming_pairs(fp, max_hamming, fp_col="simhash")


def banded_hamming_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Banded Hamming join over any 64-bit fingerprint frame →
    (doc_a, doc_b, hamming).  The candidate/verify core shared by text
    SimHash, image dHash, and audio-fingerprint near-dup — any
    fingerprint family that compares by Hamming distance plugs in here.

    Hot-bucket bound: the banded candidate join runs over DISTINCT
    fingerprints only.  Identical fingerprints are pre-collapsed to one
    representative per value (they are Hamming-0 duplicates by
    definition, no banding needed to find them), so a degenerate corpus
    — 10k solid-color thumbnails, silent audio, boilerplate docs all
    hashing to the same 64 bits — contributes ONE row per (band, chunk)
    bucket instead of k rows → k² candidate pairs in a single task.
    The full pair set is then reconstituted by plain equi-joins on the
    fingerprint value: cross-group pairs expand each fingerprint-level
    match through its member lists, and intra-group (hamming=0) pairs
    come from a self-equi-join on the fingerprint.  Every join in that
    re-expansion is relational, so AQE skew-join splitting subdivides
    any oversized partition at runtime — the output for a k-clone
    cluster is inherently k(k-1)/2 rows, but no single task ever builds
    it alone.  Mirrors ``capped_sets``' bound for the Jaccard core
    (neardup.py:68) and ``cosine_pairs_lsh``'s hot-bucket split
    (similarity.py).
    """
    members = fp.select(F.col(id_col).alias("doc_id"), F.col(fp_col).alias("__fp"))
    # fingerprints are usually the expensive upstream stage (decode /
    # shingling); checkpoint lazily so the 4 consumers below (reps +
    # three re-expansion joins) share one computation
    members = members.localCheckpoint(eager=False)
    # fingerprint-level matches: one row per unordered pair of DISTINCT
    # fingerprint values within the radius (distinct() is cheap here —
    # it dedups band-collisions over |distinct fps|² at most, not |docs|²)
    fp_pairs = (
        _banded_fp_candidates(members, max_hamming)
        .select(
            "fp_a",
            "fp_b",
            F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        fp_pairs.join(
            members.select(F.col("doc_id").alias("da"), F.col("__fp").alias("fp_a")),
            "fp_a",
        )
        .join(
            members.select(F.col("doc_id").alias("db"), F.col("__fp").alias("fp_b")),
            "fp_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    intra = (
        members.alias("x")
        .join(members.alias("y"), "__fp")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),  # bit_count return type
        )
    )
    return cross.unionByName(intra)


def _banded_fp_candidates(members: DataFrame, max_hamming: int) -> DataFrame:
    """Pre-verification banded candidates over DISTINCT fingerprints:
    ``(rep_a, rep_b, fp_a, fp_b, band, chunk)`` — one row per (band,
    chunk) collision with ``rep_a < rep_b``.  Shared by
    :func:`banded_hamming_pairs` (which verifies with ``bit_count``) and
    :func:`banded_hamming_candidate_stats` (which prices the candidate
    set itself for scale audits)."""
    bands = max_hamming + 1
    width = 64 // bands
    reps = members.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    # width=64 (max_hamming=0) can't be masked with (1<<64)-1 in int64 —
    # the single band is the fingerprint itself
    chunk_exprs = [
        "__fp" if width >= 64 else f"shiftright(__fp, {b * width}) & {(1 << width) - 1}"
        for b in range(bands)
    ]
    chunks = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.expr(chunk_exprs[b]).alias("chunk"))
            for b in range(bands)
        ]
    )
    banded = reps.select(
        F.col("doc_id"), F.col("__fp"), F.explode(chunks).alias("bc")
    ).select("doc_id", "__fp", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = banded.select(
        F.col("doc_id").alias("rep_a"), F.col("__fp").alias("fp_a"), "band", "chunk"
    )
    b = banded.select(
        F.col("doc_id").alias("rep_b"), F.col("__fp").alias("fp_b"), "band", "chunk"
    )
    return a.join(b, ["band", "chunk"]).filter(F.col("rep_a") < F.col("rep_b"))


def banded_hamming_candidate_stats(
    fp: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """1-row scale diagnostics for the banded Hamming join:
    ``(n_candidates, n_pairs)`` where ``n_candidates`` is the
    pre-verification band-collision count (the work the join actually
    does) and ``n_pairs`` the verified output size.  A healthy banding
    keeps candidates/pairs roughly constant as the corpus grows; a
    ratio that climbs with scale means the bands are saturating and the
    join is degrading toward all-pairs — the audit the sf1 scale smoke
    records per scale factor."""
    members = fp.select(
        F.col(id_col).alias("doc_id"), F.col(fp_col).alias("__fp")
    ).localCheckpoint(eager=False)
    cand = _banded_fp_candidates(members, max_hamming).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    pairs = banded_hamming_pairs(
        members, max_hamming, id_col="doc_id", fp_col="__fp"
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    return cand.crossJoin(pairs)


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
    driver_limit: int = 1_000_000,
) -> DataFrame:
    """Resolve near-dup pairs into clusters and pick survivors →
    (doc_id, cluster, is_survivor).

    CONTRACT: the pair endpoints are the FIRST TWO columns of ``pairs``,
    in either order per row (edges are undirected) — both the driver
    fast path and the distributed path read them positionally, so a
    frame reordered to put a score/distance column first would silently
    build a wrong graph; the shape is asserted below.  Extra columns
    beyond the first two are ignored.

    CONTRACT: every id in ``pairs`` must exist in ``df`` (pairs are
    produced FROM the record frame — every producer in this package
    satisfies this by construction).  Ids unknown to ``df`` are
    undefined behavior: the driver fast path would bridge components
    through them while the distributed path ignores the dangling edge —
    don't feed pairs from a stale or wider corpus without semi-joining
    them onto ``df`` first.

    Connected components by iterative min-label propagation: each round,
    every node takes the min of its own label and its neighbors' labels;
    converged when no label changes (the changed-count rides the
    per-round checkpoint job as an ``observe`` metric, through
    ``graph._Fixpoint``).  Dup groups in practice are tiny
    (pairs/triples), so this converges in 2-3 rounds; a chain that
    needs more than ``max_iter`` rounds raises rather than return
    unconverged labels.  The cluster representative
    (and survivor) is the minimum doc id — the same keep-smallest rule as
    :func:`dedup_exact`.

    Fast path: when the pair set fits on the driver (``driver_limit``,
    the broadcast-build-side discipline — near-dup pairs are a tiny
    fraction of any real corpus), components resolve with a driver-side
    union-find and ship back as one broadcast join instead of ~3×3 jobs.
    """
    if len(pairs.columns) < 2:
        raise ValueError(
            f"dedup_survivors: pairs needs >=2 columns (endpoints first), "
            f"got {pairs.columns}"
        )
    idtype_ = df.schema[id_col].dataType
    for c in pairs.columns[:2]:
        if pairs.schema[c].dataType != idtype_:
            raise TypeError(
                f"dedup_survivors: pair endpoint column {c!r} has type "
                f"{pairs.schema[c].dataType}, but {id_col!r} is {idtype_} — "
                "endpoints must be the FIRST TWO columns (a score-first "
                "reorder would silently build a wrong graph)"
            )
    head = pairs.limit(driver_limit + 1).collect()
    if len(head) <= driver_limit:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in head:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(n, find(n)) for n in list(parent)]
        spark = df.sparkSession
        # id-type-agnostic: derive the label schema from the input column
        # (string/UUID doc ids work, not just bigint)
        from pyspark.sql import types as T

        idtype = df.schema[id_col].dataType
        lbl_schema = T.StructType(
            [T.StructField(id_col, idtype), T.StructField("cluster", idtype)]
        )
        lbl = spark.createDataFrame(mapping, lbl_schema)
        out = df.select(F.col(id_col)).join(F.broadcast(lbl), id_col, "left")
        return out.select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
            (F.coalesce(F.col("cluster"), F.col(id_col)) == F.col(id_col)).alias(
                "is_survivor"
            ),
        )

    # positional like the fast path above (head rows index r[0]/r[1]):
    # callers pass arbitrary two-column pair frames (minhash pairs use
    # doc_a/doc_b, entity resolution passes rid/crid) and both paths
    # must accept the same shape
    from .graph import _Fixpoint

    a_col, b_col = pairs.columns[0], pairs.columns[1]
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    edges = edges.cache()

    fp = _Fixpoint("dedup_survivors", max_iter)
    labels, _ = fp.checkpoint(
        df.select(F.col(id_col).alias("node")).withColumn(
            "label", F.col("node")
        )
    )
    try:
        for _ in fp:
            neigh = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            # the new label derives from the old label IN THE SAME ROW,
            # so the convergence test is an in-frame comparison riding
            # the checkpoint job as an observe metric — the old form
            # re-joined new labels back onto old labels (a full extra
            # join + agg job per round) to compute the same count (r17)
            nlab = F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            )
            labels, m = fp.checkpoint(
                labels.join(neigh, labels["node"] == neigh["src"], "left")
                .select(F.col("node"), nlab.alias("label"),
                        (nlab != F.col("label")).cast("long").alias("__chg")),
                changed=F.sum("__chg"),
            )
            if not m["changed"]:  # None (empty) or 0
                break
    finally:
        edges.unpersist()
    fp.finish()
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster"),
        (F.col("node") == F.col("label")).alias("is_survivor"),
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination audit → (doc_id, n_shingles,
    n_contaminated, contamination_pct): what fraction of each training
    document's n-gram shingles appear anywhere in the benchmark set.

    The standard pre-training hygiene check (eval-set leakage).  Plan
    shape for 100 TB: the benchmark side is tiny (eval suites are
    thousands of documents) — its distinct shingle set BROADCASTS, so
    the corpus side is a map-side left join + one hash-agg on doc_id;
    the corpus is never shuffled on shingle.  Documents with fewer than
    ``n`` tokens have no shingles and are omitted (nothing to test).
    """
    d = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    b = (
        shingles(benchmark, n=n, text_col=text_col, id_col=id_col)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        d.join(F.broadcast(b), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_pct",
            F.round(
                F.col("n_contaminated") * F.lit(100.0) / F.col("n_shingles"), 2
            ),
        )
    )


def duplicate_ngram_spans(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicated n-gram spans — the exact-substring dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): for each document, the fraction of its n-gram
    positions whose n-gram also occurs in at least one OTHER document.
    Downstream either drops high-overlap documents or cuts the duplicated
    spans; this operator computes the per-document evidence.

    Scale shape (the suffix-array alternative re-expressed as joins):
    positional n-grams explode once; the duplicated-gram set comes from a
    hash-agg with map-side partial aggregation (``count(distinct doc)`` ≥ 2
    implemented as a two-level agg); the exploded frame then semi-joins
    that set on the gram key (shuffle equi-join — AQE spreads hot grams)
    and a final per-doc hash-agg counts duplicated positions.  Nothing is
    all-pairs, nothing collects: cost is corpus-linear plus two shuffles
    on (gram) and one on (doc_id).
    """
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
    # materialize the token arrays BEFORE the gram lambda: CollapseProject
    # would otherwise inline split(text) into the per-position lambda and
    # re-tokenize the document once per gram — O(positions·tokens) per doc
    # (measured 3.3s for one pass at sf0.1 vs 0.4s materialized); the
    # same split-in-lambda trap jaccard_pairs' shingle checkpoint avoids
    base = base.localCheckpoint(eager=True)
    tk = F.col("__toks")
    n_tok = F.size(tk)
    # 1-based window starts; guard short docs (sequence(1, 0) descends)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - n + 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # one gram-construction pass total: with_grams feeds three consumers
    # (dup-gram agg, membership join, per-doc sizes)
    with_grams = base.select("doc_id", grams.alias("__grams")).localCheckpoint(
        eager=True
    )
    exploded = with_grams.select("doc_id", F.explode("__grams").alias("gram"))
    # grams seen in >= 2 distinct docs; distinct-then-count keeps partial
    # aggregation (a straight countDistinct would too, via expand)
    dup_grams = (
        exploded.dropDuplicates(["gram", "doc_id"])
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram")
    )
    dup_counts = (
        exploded.join(dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    per_doc = with_grams.select("doc_id", F.size("__grams").alias("n_grams"))
    n_dup = F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("long"))
    return per_doc.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_dup.alias("n_dup_grams"),
        F.when(F.col("n_grams") > 0, F.round(n_dup / F.col("n_grams"), 4)).alias(
            "dup_gram_frac"
        ),
    )


def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: from an incoming batch, keep only
    documents whose content appears neither in the existing corpus nor
    earlier (by min id) within the batch itself.  The ingest-time
    primitive: each crawl/stream micro-batch dedups against everything
    already accepted without ever re-shuffling the corpus text.

    Scale shape: both sides reduce to 128-bit digests before any join
    (the corpus side is digest + nothing else — at 100 TB the digest
    table is ~2% of corpus bytes and is the thing you persist between
    ingests); within-batch survivors via one hash-agg; cross-corpus
    novelty via LEFT ANTI join on the digest — no window, and the only
    shuffles carry digests.
    """
    digest = F.md5(F.col(text_col)).alias("__digest")
    batch = (
        new_df.select(digest, F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
    )
    seen = corpus_df.select(F.md5(F.col(text_col)).alias("__digest")).distinct()
    novel = batch.join(seen, "__digest", "left_anti")
    return novel.join(
        new_df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(id_col, "__digest", text_col)


def minhash_store_init(
    docs: DataFrame,
    store_path: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus's MinHash band-bucket table to parquet —
    (doc_id, band, bucket) — partitioned by band so an incremental probe
    prunes to matching band partitions.  Built ONCE per corpus; daily
    batches then join against this store instead of re-shingling 100 TB
    (the signature constants are fixed-seed, so stored buckets stay
    join-compatible with every future batch)."""
    buckets, _ = _minhash_buckets(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    buckets.write.mode("overwrite").partitionBy("band").parquet(store_path)


def minhash_neardup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    store_path: str,
    threshold: float,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    update_store: bool = False,
) -> DataFrame:
    """Incremental MinHash near-dup: new-batch pairs against a standing
    corpus WITHOUT re-shingling the corpus → (doc_a, doc_b, jaccard)
    covering batch×corpus and batch×batch pairs at ``threshold``
    (corpus×corpus pairs are historical — found when those docs were
    themselves the batch).

    The 100-TB maintenance shape (the banded twin of
    ``dedup_incremental``'s digest store):
      * ONLY the batch is shingled and signed (O(batch), not O(corpus));
      * candidates come from the batch's buckets joined against the
        parquet band store — the scan prunes to the batch's (band,
        bucket) space, and the corpus text is touched ONLY for candidate
        docs, via a semi-join pushed into the corpus scan;
      * exact-Jaccard verification reuses the shared kernel, so output
        precision is exact, same as the self-join path.
    ``update_store=True`` appends the batch's buckets afterward (the
    daily-ingest step); leave False for replayable audits.
    """
    spark = batch.sparkSession
    b_buckets, b_sh = _minhash_buckets(
        batch, n=n, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    b_buckets = b_buckets.localCheckpoint(eager=True)
    store = spark.read.parquet(store_path)
    cross = (
        store.withColumnRenamed("doc_id", "corpus_id")
        .join(b_buckets.withColumnRenamed("doc_id", "batch_id"), ["band", "bucket"])
        .filter(F.col("corpus_id") != F.col("batch_id"))
        .select(
            F.least("corpus_id", "batch_id").alias("doc_a"),
            F.greatest("corpus_id", "batch_id").alias("doc_b"),
        )
    )
    bb = (
        b_buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            b_buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    candidates = cross.union(bb).distinct().localCheckpoint(eager=True)
    # corpus shingles ONLY for candidate docs: the semi-join keeps the
    # corpus scan pruned to matched ids (plus the batch's own ids, which
    # the union with b_sh covers anyway)
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .union(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    corpus_sh = hashed_shingles(
        corpus.join(cand_ids, id_col, "left_semi"),
        n=n, text_col=text_col, id_col=id_col,
    )
    sh_all = b_sh.union(corpus_sh).distinct().localCheckpoint(eager=True)
    out = _verify_candidates(sh_all, sh_all, candidates, threshold)
    if update_store:
        b_buckets.write.mode("append").partitionBy("band").parquet(store_path)
    return out


def fingerprint_store_init(
    fps: DataFrame, store_path: str
) -> None:
    """Materialize an int64 Hamming-fingerprint frame ``(doc_id,
    simhash)`` to parquet — 8 bytes per item, the Hamming-family analog
    of :func:`minhash_store_init`.  Fingerprinting is the expensive
    stage; the store makes it once-per-item forever.  Modality-agnostic:
    any producer that emits 64-bit fingerprints (text :func:`simhash`,
    image dHash, audio subband fingerprints) maintains near-dup
    incrementally through the same store and banded core."""
    fps.write.mode("overwrite").parquet(store_path)


def fingerprint_neardup_incremental(
    batch_fps: DataFrame,
    store_path: str,
    max_hamming: int = 3,
    update_store: bool = False,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Incremental near-dup for ANY 64-bit fingerprint modality: the
    batch arrives already fingerprinted (that stage is the modality —
    decode+dHash for images, rFFT bands for audio, token voting for
    text); the store supplies everything else.  Banded join over
    (stored ∪ batch), keep pairs involving a batch item; the
    pre-collapse hot-bucket bound of :func:`banded_hamming_pairs`
    applies unchanged.  ``update_store=True`` appends the batch
    (daily-ingest mode); leave False for replayable audits.

    ``id_col``/``fp_col`` name the batch columns explicitly (same API
    as :func:`banded_hamming_pairs`) — ids are selected by NAME, never
    by position, so column order in the batch frame is irrelevant."""
    spark = batch_fps.sparkSession
    bf = batch_fps.localCheckpoint(eager=True)
    store = spark.read.parquet(store_path)
    pairs = banded_hamming_pairs(
        store.unionByName(bf), max_hamming=max_hamming,
        id_col=id_col, fp_col=fp_col,
    )
    bids = bf.select(F.col(id_col).alias("__bid"))
    batch_involving = (
        pairs.join(bids, pairs["doc_a"] == bids["__bid"], "left_semi")
        .unionByName(
            pairs.join(bids, pairs["doc_b"] == bids["__bid"], "left_semi")
        )
        .distinct()
    )
    if update_store:
        bf.write.mode("append").parquet(store_path)
    return batch_involving


def _rarity_postings(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared prefix-filter build → (capped postings, doc-frequency
    frame), both materialized.  The posting frame feeds FOUR consumers
    (freq agg, prefix build, both verify sides) — materialize once, the
    _pair_stats pattern.  The cap's doc-frequency aggregate and the
    prefix rarity order are ONE pass folded: capping removes whole
    shingle groups, never individual postings, so a surviving shingle's
    post-cap frequency EQUALS its pre-cap frequency — the hot set is
    ``freq > cap`` and the rarity order is the same frame inner-joined
    to the capped postings (which restricts it to survivors for free).
    Capped shingles could never enter a prefix anyway — they are the
    most frequent by definition."""
    sh0 = shingles(df, n=n, text_col=text_col, id_col=id_col)
    if max_doc_freq is None:
        sh = sh0.localCheckpoint(eager=True)
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfq"))
        return sh, dfreq
    # cache the pre-cap frame: it feeds the freq agg AND the anti-join
    # probe (capped_sets' rationale, inlined so the freq frame is
    # shared with the rarity order instead of recounted)
    sh0 = sh0.cache()
    dfreq = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("dfq"))
        .localCheckpoint(eager=True)
    )
    hot = dfreq.filter(F.col("dfq") > max_doc_freq).select("shingle")
    sh = sh0.join(
        F.broadcast(hot), "shingle", "left_anti"
    ).localCheckpoint(eager=True)
    sh0.unpersist()
    return sh, dfreq


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the PPJoin family,
    Chaudhuri et al. 2006 / Xiao et al. 2008) — a candidate generator
    with a different scaling lever than banding: order every document's
    shingles by GLOBAL rarity (doc-frequency asc, shingle asc — any
    shared total order works), keep only the first
    |A| − ⌈t·|A|⌉ + 1 per document (the "prefix"), and join documents
    on shared PREFIX shingles only.  Pigeonhole guarantee: two sets
    with J ≥ t must overlap within those prefixes, so candidate
    generation has ZERO false negatives and the exact verify pass makes
    the result identical to the all-pairs join — the driver hash-checks
    this against the full inverted-index oracle, certifying
    losslessness the way recall_minhash_vs_jaccard certifies banding.

    Why it scales where the plain inverted index doesn't: posting lists
    join only on each document's RAREST few shingles, so hot shingles
    (the d² candidate blowup) fall out of the prefixes naturally —
    at t=0.8 the prefix is ~20% of each set, cutting candidate volume
    ~25× before any verification.  Verification touches candidates
    only: cand ⋈ postings(a) ⋈ postings(b), cost Σ_cand |A|.

    ``max_doc_freq`` applies the SAME whole-shingle doc-frequency cap
    as ``jaccard_pairs``/:func:`capped_sets` (default 10k on both), so
    sizes/intersections — and therefore every jaccard denominator —
    are computed over identical set representations and the
    bit-for-bit equality contract with the inverted-index path holds
    even on corpora where a shingle exceeds the cap (without this,
    the two paths only agreed while no shingle tripped the cap).

    The cap's doc-frequency aggregate and the prefix rarity order are
    ONE pass folded (the r12 plan ran them as two): capping removes
    whole shingle groups, never individual postings, so a surviving
    shingle's post-cap frequency EQUALS its pre-cap frequency — the
    hot set is ``freq > cap`` and the rarity order is the same frame
    inner-joined to the capped postings (which restricts it to
    survivors for free).  Capped shingles could never enter a prefix
    anyway — they are the most frequent by definition.

    Scale shape: one df-count agg (map-side combinable) feeding both
    the hot-set broadcast and the rarity order, one bounded per-doc
    window (a document's OWN shingles, not the corpus), the prefix
    self-join, then candidate-restricted verify — no all-pairs stage
    anywhere.  Returns (doc_a, doc_b, jaccard ≥ threshold), the same
    contract as jaccard_pairs.
    """
    sh, dfreq = _rarity_postings(df, n, text_col, id_col, max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # CANDIDATE threshold: the final filter keeps round(J,4) >= t — the
    # same rounded predicate as jaccard_pairs — which admits unrounded
    # J as low as t - 5e-5.  The prefix length and length filter must
    # therefore prune at that LOOSER bound, or a boundary pair (e.g.
    # |A|=3999 ⊂ |B|=4999 at t=0.8: J=0.79996 → rounds to 0.8) would be
    # emitted by the inverted-index path but never become a candidate
    # here, breaking the bit-equality contract.  1e-4 of slack costs a
    # negligible candidate increase and covers banker's-rounding edges.
    t_cand = threshold - 1e-4
    # prefix length: sz - ceil(t_cand*sz) + 1 rarest shingles per doc
    w = Window.partitionBy("doc_id").orderBy("dfq", "shingle")
    pref = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("__pos", F.row_number().over(w))
        .filter(
            F.col("__pos")
            <= F.col("sz") - F.ceil(F.lit(t_cand) * F.col("sz")) + 1
        )
        .select("doc_id", "shingle")
    )
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("nb")),
            "doc_b",
        )
        # LENGTH FILTER (lossless at the ROUNDED predicate): J ≥ t_cand
        # implies min(|A|,|B|) ≥ t_cand·max — prunes unrelated docs that
        # happened to share one rare shingle before the verify pass
        # pays Σ|A| for them
        .filter(
            F.least("na", "nb")
            >= F.lit(t_cand) * F.greatest("na", "nb")
        )
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        inter.join(cand.select("doc_a", "doc_b", "na", "nb"), ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return j


def containment_prefix_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """:func:`containment_pairs` (max-containment C = |A∩B|/min(|A|,|B|)
    ≥ t → (doc_a, doc_b, containment, jaccard)) rebuilt on the
    CONTAINMENT-ADAPTED prefix filter — bit-for-bit the same output as
    the inverted-index build, candidate-pruned.

    REGIME (measured, sf1 fixture): the prefix plan wins only when
    (1−t)·|X| ≪ |X| — at t=0.9 candidates are output-sized (2.5k vs
    15M co-occurring pairs; 17s vs 68s).  At moderate thresholds the
    prefix covers most of every set, candidates ≈ all co-occurring
    pairs (t=0.5: 12.9M of ~15M), and the per-candidate verify join
    explodes (155s) where :func:`containment_pairs`' self-join
    aggregation computes the same intersections map-side-combined in
    24s.  Use this for mirror/subset sweeps (t ≥ ~0.8);
    use containment_pairs below that.

    Asymmetric pigeonhole: for a pair with |X| = min(|A|,|B|), C ≥ t
    forces i ≥ t·|X|, so the |X| − ⌈t·|X|⌉ + 1 globally-RAREST
    shingles of the SMALLER set must intersect the other set
    SOMEWHERE — unlike Jaccard, the larger set contributes its FULL
    posting list, not a prefix (a tiny doc can sit anywhere inside a
    huge one).  Candidates are therefore prefix(smaller) ⋈ postings,
    volume Σ_{(d,s): s ∈ prefix(d)} df(s) — bounded by the per-doc
    RAREST frequencies, where the naive index pays Σ_s df(s)² over
    all shingles.  Generation itself is direction-blind — EVERY doc's
    prefix joins the full postings, so the raw stream does include
    larger-side fan-out — and the size-order rule (strictly smaller
    side's prefix; equal sizes keep one canonical direction — both
    prefixes qualify there) is applied on the DEDUPED candidate-pair
    frame: it is the VERIFY stage, not candidate generation, that
    pays only the guaranteed direction.  Deliberate: filtering during
    generation needs per-doc sizes on both shingle streams, and
    ``sizes`` is doc-cardinality (billions at 100 TB — not
    broadcastable), so the pushdown would cost two corpus-sized
    shuffle joins to save at most half the pair-dedup input; the
    dedup is map-side combinable and wins that trade.

    The candidate bound uses t − 1e-4 (prefix length only): the final
    filter keeps round(C,4) ≥ t — the same rounded predicate as
    containment_pairs — which admits unrounded C down to t − 5e-5,
    and a pair at that boundary must still become a candidate for the
    bit-equality contract to hold (the prefix_filter_pairs rule).

    Every suite consumer's oracle states the inverted-index SQL, so
    each driver hash check re-certifies prefix ≡ inverted-index on the
    live corpus; the property test covers synthetic corpora including
    a tripped doc-frequency cap.
    """
    sh, dfreq = _rarity_postings(df, n, text_col, id_col, max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    t_cand = threshold - 1e-4
    w = Window.partitionBy("doc_id").orderBy("dfq", "shingle")
    pref = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("__pos", F.row_number().over(w))
        .filter(
            F.col("__pos")
            <= F.col("sz") - F.ceil(F.lit(t_cand) * F.col("sz")) + 1
        )
        .select("doc_id", "shingle")
    )
    # pair-dedup FIRST (map-side combinable), THEN attach sizes — the
    # size joins run on the candidate-pair frame, never the raw
    # prefix ⋈ postings stream
    raw = (
        pref.select(F.col("doc_id").alias("doc_x"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_y"), "shingle"), "shingle")
        .filter(F.col("doc_x") != F.col("doc_y"))
        .select("doc_x", "doc_y")
        .distinct()
    )
    cand = (
        raw.join(
            sizes.select(F.col("doc_id").alias("doc_x"), F.col("sz").alias("nx")),
            "doc_x",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_y"), F.col("sz").alias("ny")),
            "doc_y",
        )
        # only the SMALLER set's prefix carries the pigeonhole
        # guarantee; on ties either does, keep one direction — a
        # qualifying pair always appears in the guaranteed direction,
        # so dropping the other loses nothing
        .filter(
            (F.col("nx") < F.col("ny"))
            | ((F.col("nx") == F.col("ny")) & (F.col("doc_x") < F.col("doc_y")))
        )
        # canonical doc_a < doc_b, matching the inverted index's join
        # predicate; sizes follow their doc
        .select(
            F.least("doc_x", "doc_y").alias("doc_a"),
            F.greatest("doc_x", "doc_y").alias("doc_b"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("nx"))
            .otherwise(F.col("ny"))
            .alias("na"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("ny"))
            .otherwise(F.col("nx"))
            .alias("nb"),
        )
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    c = F.round(F.col("i") / F.least(F.col("na"), F.col("nb")), 4)
    j = F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4)
    return (
        inter.join(cand, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            c.alias("containment"),
            j.alias("jaccard"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
    )
