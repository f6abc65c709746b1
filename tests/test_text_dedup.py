"""Dedup + text-analysis operator tests (literal frames + sf0.001)."""

import pytest
from conftest import SF_DIR

from elastic_asset_etl_poc_spark.operators.neardup import (
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
)
from elastic_asset_etl_poc_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    text_quality,
    tokens,
)
from elastic_asset_etl_poc_spark.sources.registry import load_table


def docs_df(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "the quick brown fox jumps over a lazy dog"),  # near dup
            (4, "completely different words entirely here now"),
            (5, "xy"),  # shorter than one shingle
        ],
        "doc_id long, text string",
    )


def test_dedup_exact(spark):
    out = {r.keep_id: r.n_docs for r in dedup_exact(docs_df(spark)).collect()}
    assert out[1] == 2  # docs 1+2 collapse, min id kept
    assert out[3] == 1 and out[4] == 1


def test_shingles_short_doc_empty(spark):
    sh = shingles(docs_df(spark))
    assert sh.filter("doc_id = 5").count() == 0


def test_jaccard_exact_dup_is_one(spark):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(docs_df(spark), 0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    # docs 1/3 share 4 of 10 distinct shingles -> J = 0.4
    assert abs(pairs[(1, 3)] - 0.4) < 1e-9
    assert (1, 4) not in pairs


def test_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """Skewed corpus: one stop-phrase in every doc.  With the doc-freq cap
    the quadratic candidate blowup disappears; without it every pair of
    docs becomes a candidate."""
    stop = "as an ai language model i cannot"
    docs = spark.createDataFrame(
        [(i, f"unique{i} token{i} word{i} extra{i} item{i} {stop}") for i in range(200)],
        "doc_id long, text string",
    )
    # uncapped: the shared suffix makes every pair similar -> ~N²/2 pairs
    uncapped = jaccard_pairs(docs, 0.2, max_doc_freq=None).count()
    assert uncapped == 200 * 199 // 2
    # capped at 50: stop-phrase shingles (doc freq 200) are dropped from
    # both intersection and sizes -> no candidate survives
    assert jaccard_pairs(docs, 0.2, max_doc_freq=50).count() == 0


def test_jaccard_cap_noop_below_threshold(spark):
    """The cap must not perturb results when no shingle is hot."""
    base = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs_df(spark), 0.3, max_doc_freq=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs_df(spark), 0.3, max_doc_freq=50).collect()
    }
    assert base == capped


def test_minhash_matches_exact_on_fixture(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.8).collect()}
    approx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    assert approx == exact  # 64 hashes/16 bands: recall ~1 at J>=0.8


def test_simhash_vectorized_matches_jvm(spark):
    """The numpy kernel equals a pure-Python SimHash over the same
    Spark-side token hashes: ±1 votes per bit, sign bits packed into a
    signed int64."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    hashes = {}
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    for r in toks.select("doc_id", F.xxhash64("tok").alias("h")).collect():
        hashes.setdefault(r.doc_id, []).append(r.h)
    want = []
    for doc_id, hs in hashes.items():
        fp = sum(
            1 << b
            for b in range(64)
            if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0
        )
        want.append((doc_id, fp - (1 << 64) if fp >= 1 << 63 else fp))
    got = sorted(map(tuple, simhash(docs).collect()))
    assert len(got) > 1
    assert got == sorted(want)


def test_simhash_identical_and_near(spark):
    fps = {r.doc_id: r.simhash for r in simhash(docs_df(spark)).collect()}
    assert fps[1] == fps[2]  # identical docs, identical fingerprint
    ham_near = bin(fps[1] ^ fps[3]).count("1")
    ham_far = bin(fps[1] ^ fps[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_text_quality_fields(spark):
    out = {r.doc_id: r for r in text_quality(docs_df(spark)).collect()}
    assert out[1].n_tokens == 9
    assert abs(out[1].stopword_ratio - 2 / 9) < 1e-3
    assert not out[5].quality_keep  # too short
    assert not out[4].quality_keep  # no stopwords


def test_lang_id(spark):
    base = docs_df(spark)
    df = base.withColumn("lang", base.doc_id.cast("string"))
    out = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert out[1] == "en" and out[4] == "other"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert fps[1] != fps[2]


def test_dedup_survivors_clusters(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # chain 1-2-3, pair 5-6; 4 and 7 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.cluster, r.is_survivor) for r in dedup_survivors(docs, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[4] == (4, True) and out[7] == (7, True)


def test_dedup_survivors_fixture_invariant(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import (
        dedup_survivors,
        minhash_lsh_pairs,
    )
    from elastic_asset_etl_poc_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    out = dedup_survivors(docs, pairs)
    n_docs = docs.count()
    n_in_pairs = pairs.selectExpr("doc_a AS d").union(pairs.selectExpr("doc_b")).distinct().count()
    survivors = out.filter("is_survivor").count()
    # every doc appears exactly once; survivors = docs - (dup members - clusters)
    assert out.count() == n_docs
    n_clusters = out.filter("NOT is_survivor").select("cluster").distinct().count()
    assert survivors == n_docs - (n_in_pairs - n_clusters)


def test_dedup_survivors_distributed_path(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    # driver_limit=0 forces the iterative min-label propagation path
    out = {
        r.doc_id: (r.cluster, r.is_survivor)
        for r in dedup_survivors(docs, pairs, driver_limit=0).collect()
    }
    assert out[1] == (1, True) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[4] == (4, True)


def test_dedup_survivors_distributed_path_raises_past_max_iter(spark):
    """A 13-node path needs 12 label hops plus a confirming round: with
    the default max_iter=10 the distributed path must RAISE, not return
    labels that have not reached node 0 yet."""
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    docs = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup_survivors(docs, pairs, driver_limit=0).collect()


def test_dedup_survivors_distributed_path_releases_checkpoints(spark):
    """The distributed path's per-round label checkpoints and its cached
    edge frame are released: over a 6-round chain at most two more RDDs
    stay persisted after the call."""
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = {
        r.doc_id: r.cluster
        for r in dedup_survivors(docs, pairs, driver_limit=0).collect()
    }
    assert out == {i: 0 for i in range(6)}
    assert jsc.getPersistentRDDs().size() - before <= 2


def test_normalize_text(spark):
    from elastic_asset_etl_poc_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, "Hello,  World! (x2)"), (2, "  already clean  "), (3, "---")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.norm_text for r in normalize_text(df).collect()}
    assert out[1] == "hello world x2"
    assert out[2] == "already clean"
    assert out[3] == ""


def test_redact_pii_patterns(spark):
    from elastic_asset_etl_poc_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "write to bob.smith+x@corp.example.org today"),
            (2, "call 555-123-4567 or visit 192.168.0.1 now"),
            (3, "nothing sensitive here"),
            (4, "a@b.io and c@d.io and 10.0.0.7"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert rows[1].text_redacted == "write to <EMAIL> today"
    assert rows[1].n_redacted == 1
    assert rows[2].text_redacted == "call <PHONE> or visit <IP> now"
    assert rows[2].n_redacted == 2
    assert rows[3].text_redacted == "nothing sensitive here"
    assert rows[3].n_redacted == 0
    assert rows[4].n_redacted == 3


def test_contamination_check_overlap(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import contamination_check

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # shingles: 3, contaminated: 2
            (2, "zeta eta theta iota"),  # 2 shingles, 0 contaminated
            (3, "too short"),  # no shingles -> omitted
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in contamination_check(docs, bench).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].n_shingles, rows[1].n_contaminated) == (3, 2)
    assert rows[1].contamination_pct == 66.67
    assert (rows[2].n_shingles, rows[2].n_contaminated) == (2, 0)


def test_contamination_benchmark_broadcasts(spark):
    """The benchmark shingle set must be the broadcast side — the corpus
    is never shuffled on shingle."""
    from elastic_asset_etl_poc_spark.operators.neardup import contamination_check
    from elastic_asset_etl_poc_spark.sources.registry import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = contamination_check(
        docs.filter("doc_id % 20 != 0"), docs.filter("doc_id % 20 = 0")
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_repetition_signals_hand_computed(spark):
    from elastic_asset_etl_poc_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x x x x"), (3, "z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    # doc 1: 3 tokens, 2 distinct; modal token 'a' appears twice;
    # bigrams {'a a', 'a b'} all distinct
    assert out[1].n_tokens == 3
    assert out[1].dup_token_frac == 0.3333
    assert out[1].top_token_frac == 0.6667
    assert out[1].dup_bigram_frac == 0.0
    # doc 2: all-same token — maximal repetition
    assert out[2].dup_token_frac == 0.75
    assert out[2].top_token_frac == 1.0
    assert out[2].dup_bigram_frac == 0.6667  # 3 bigrams, 1 distinct
    # doc 3: single token — no bigram signal (NULL, not division blow-up)
    assert out[3].dup_token_frac == 0.0
    assert out[3].top_token_frac == 1.0
    assert out[3].dup_bigram_frac is None


def test_duplicate_ngram_spans_cross_doc_only(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import duplicate_ngram_spans

    df = spark.createDataFrame(
        # 'a b' is the only gram shared across documents; doc 3 is too
        # short for any 2-gram
        [(1, "a b c d"), (2, "a b x"), (3, "q")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_ngram_spans(df, n=2).collect()}
    assert (out[1].n_grams, out[1].n_dup_grams, out[1].dup_gram_frac) == (3, 1, 0.3333)
    assert (out[2].n_grams, out[2].n_dup_grams, out[2].dup_gram_frac) == (2, 1, 0.5)
    assert (out[3].n_grams, out[3].n_dup_grams, out[3].dup_gram_frac) == (0, 0, None)


def test_duplicate_ngram_spans_within_doc_repeat_not_dup(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import duplicate_ngram_spans

    # 'a b' repeats WITHIN doc 1 only — cross-document count is 1 distinct
    # doc, so nothing is flagged
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in duplicate_ngram_spans(df, n=2).collect()}
    assert out[1].n_dup_grams == 0 and out[2].n_dup_grams == 0


def test_tfidf_hand_computed(spark):
    import math

    from elastic_asset_etl_poc_spark.operators.text import tfidf_score

    df = spark.createDataFrame(
        [(1, "t u u"), (2, "t v"), (3, "w")], "doc_id long, text string"
    )
    rows = {(r.doc_id, r.term): r for r in tfidf_score(df, ("t", "u")).collect()}
    assert set(rows) == {(1, "t"), (1, "u"), (2, "t")}  # doc 3 matches nothing
    assert rows[(1, "u")].tf == 2
    assert rows[(1, "t")].tfidf == round(1 * math.log(3 / 2), 4)
    assert rows[(1, "u")].tfidf == round(2 * math.log(3 / 1), 4)
    assert rows[(2, "t")].tfidf == rows[(1, "t")].tfidf


def test_hash_embed_hand_computed(spark):
    import math

    import pytest

    from elastic_asset_etl_poc_spark.operators.text import hash_embed

    # token hashes: 'a' -> 97*131+1 = 12708 = 64*198 + 36 (even quotient:
    # sign +1, idx 36); 'z' -> 122*131+1 = 15983 = 64*249 + 47 (odd: -1)
    df = spark.createDataFrame(
        [(1, "a z"), (2, "a a")], "doc_id long, text string"
    )
    out = {r.doc_id: r.embedding for r in hash_embed(df, dim=64).collect()}
    r2 = math.sqrt(2)
    assert abs(out[1][36] - 1 / r2) < 1e-12 and abs(out[1][47] + 1 / r2) < 1e-12
    assert sum(1 for x in out[1] if x != 0) == 2
    assert out[2][36] == 1.0 and sum(abs(x) for x in out[2]) == 1.0
    # L2 norm is 1 for every non-degenerate doc
    for vec in out.values():
        assert abs(math.fsum(x * x for x in vec) - 1.0) < 1e-9
    with pytest.raises(ValueError):
        hash_embed(df, dim=1)


def test_hash_embed_bridges_into_cosine_topk(spark):
    from elastic_asset_etl_poc_spark.operators.similarity import cosine_topk
    from elastic_asset_etl_poc_spark.operators.text import hash_embed

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick brown the fox"),  # same bag of words -> same vector
            (3, "completely different words entirely"),
        ],
        "doc_id long, text string",
    )
    emb = hash_embed(df)
    top = cosine_topk(emb, emb.filter("doc_id = 1"), k=1, id_col="doc_id").collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in top] == [(1, 2, 1)]


def test_unigram_logprob_hand_computed(spark):
    import math

    from elastic_asset_etl_poc_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c")], "doc_id long, text string"
    )
    # corpus: a x2, b x1, c x1, total 4
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[1].n_tokens == 3
    assert out[1].avg_logprob == round(
        (2 * math.log(0.5) + math.log(0.25)) / 3, 4
    )
    assert out[2].avg_logprob == round(math.log(0.25), 4)


def test_dedup_incremental_batch_and_corpus(spark):
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "already accepted"), (2, "also accepted")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "already accepted"),  # dup of corpus -> dropped
            (11, "brand new"),
            (12, "brand new"),  # within-batch dup -> min id 11 survives
            (13, "another new"),
        ],
        "doc_id long, text string",
    )
    out = sorted(r.doc_id for r in dedup_incremental(batch, corpus).collect())
    assert out == [11, 13]


def test_chunk_documents_coverage_and_overlap(spark):
    import pytest

    from elastic_asset_etl_poc_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 11))), (2, "a b")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    one = sorted(
        ((r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in out if r.doc_id == 1)
    )
    # stride 2 over 10 tokens: starts 1,3,5,7 — full coverage, last ends at t10
    assert one == [
        (0, 4, "t1 t2 t3 t4"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t5 t6 t7 t8"),
        (3, 4, "t7 t8 t9 t10"),
    ]
    # short doc -> single short chunk
    two = [(r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in out if r.doc_id == 2]
    assert two == [(0, 2, "a b")]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_remove_boilerplate_segments(spark):
    from elastic_asset_etl_poc_spark.operators.text import remove_boilerplate_segments

    # "x1 x2" is a 2-token boilerplate segment present in 3 distinct docs
    boil = "x1 x2"
    df = spark.createDataFrame(
        [
            (1, f"{boil} a b"),
            (2, f"{boil} c d"),
            (3, f"e f {boil}"),
            (4, boil),            # fully boilerplate -> empty clean_text
            (5, "g h i"),         # untouched; odd tail segment "i" kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_boilerplate_segments(df, seg_len=2, max_df=2).collect()}
    assert len(out) == 5
    assert out[1].clean_text == "a b" and out[1].n_removed == 1
    assert out[2].clean_text == "c d"
    assert out[3].clean_text == "e f"
    assert out[4].clean_text == "" and out[4].n_removed == 1
    assert out[5].clean_text == "g h i" and out[5].n_removed == 0


def test_remove_boilerplate_within_doc_repeat_not_hot(spark):
    from elastic_asset_etl_poc_spark.operators.text import remove_boilerplate_segments

    # "p q" repeats 3x inside ONE doc: df(distinct docs) = 1, stays
    df = spark.createDataFrame(
        [(1, "p q p q p q"), (2, "r s t u")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in remove_boilerplate_segments(df, seg_len=2, max_df=2).collect()}
    assert out[1].clean_text == "p q p q p q" and out[1].n_removed == 0


def test_bigram_logprob_hand_computed(spark):
    import math

    from elastic_asset_etl_poc_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    # corpus: tokens a×4 b×2 c×1 (total 7); bigrams: ab×2, ba×1, aa×1
    total, ua, ub = 7, 4, 2
    # context counts are UNIGRAM counts in the interpolation denominator
    p_ab = 0.7 * (2 / ua) + 0.3 * (ub / total)
    p_ba = 0.7 * (1 / ub) + 0.3 * (ua / total)
    p_aa = 0.7 * (1 / ua) + 0.3 * (ua / total)
    exp1 = round((math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3, 4)
    exp2 = round(math.log(p_aa), 4)
    assert out[1].n_bigrams == 3 and abs(out[1].avg_logprob - exp1) < 1e-9
    assert out[2].n_bigrams == 1 and abs(out[2].avg_logprob - exp2) < 1e-9
    assert 3 not in out  # single-token doc has no bigrams


def test_minhash_incremental_store_lifecycle(spark, tmp_path):
    from elastic_asset_etl_poc_spark.operators.neardup import (
        jaccard_pairs,
        minhash_neardup_incremental,
        minhash_store_init,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated words occupy this document body here"),
        ],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(20, "the quick brown fox jumps over the lazy dog today")],  # dup of 10
        "doc_id long, text string",
    )
    store = str(tmp_path / "mh_store")
    minhash_store_init(corpus, store)

    p1 = {(r.doc_a, r.doc_b) for r in
          minhash_neardup_incremental(batch1, corpus, store, 0.5, update_store=True).collect()}
    assert p1 == {(1, 10)}  # batch finds its corpus near-dup, not (1,2)

    # batch2 must now ALSO see batch1's doc through the updated store
    full = corpus.union(batch1)
    p2 = {(r.doc_a, r.doc_b) for r in
          minhash_neardup_incremental(batch2, full, store, 0.5).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             jaccard_pairs(full.union(batch2), 0.5).collect()
             if 20 in (r.doc_a, r.doc_b)}
    assert p2 == exact and (10, 20) in p2 and (1, 20) in p2


def test_simhash_incremental_store_lifecycle(spark, tmp_path):
    from elastic_asset_etl_poc_spark.operators.neardup import (
        fingerprint_neardup_incremental,
        fingerprint_store_init,
        simhash,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated words occupy this document body here"),
        ],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight")],  # exact dup of 1
        "doc_id long, text string",
    )
    store = str(tmp_path / "sh_store")
    fingerprint_store_init(simhash(corpus), store)
    p1 = {(r.doc_a, r.doc_b): r.hamming for r in
          fingerprint_neardup_incremental(
              simhash(batch1), store, max_hamming=3, update_store=True
          ).collect()}
    assert p1 == {(1, 10): 0}  # identical text -> hamming 0 vs corpus only
    # second batch duplicating batch1's doc is found through the UPDATED store
    batch2 = spark.createDataFrame(
        [(20, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    p2 = {(r.doc_a, r.doc_b) for r in
          fingerprint_neardup_incremental(
              simhash(batch2), store, max_hamming=3
          ).collect()}
    assert p2 == {(1, 20), (10, 20)}


def test_fix_mojibake_repairs_and_counts(spark):
    """Known damage repairs byte-exact; marker count is pre-repair;
    clean text passes through untouched with count 0; NULL stays NULL."""
    from elastic_asset_etl_poc_spark.operators.text import fix_mojibake

    rows = [
        (1, "itâ€™s â€œfineâ€\x9d â€” rÃ©sumÃ© naÃ¯ve"),  # naÃ¯ unknown seq
        (2, "plain ascii text"),
        (3, None),
        (4, "trailing lead byte Ã"),  # lead byte at EOS: no following char
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in fix_mojibake(df).collect()}
    assert out[1]["text_fixed"] == "it’s “fine” — résumé naÃ¯ve"
    # markers BEFORE repair: â€™ â€œ â€(9d) â€” Ã© Ã© Ã¯  -> 7
    assert out[1]["n_mojibake"] == 7
    assert out[2]["text_fixed"] == "plain ascii text"
    assert out[2]["n_mojibake"] == 0
    assert out[3]["text_fixed"] is None and out[3]["n_mojibake"] is None
    assert out[4]["text_fixed"] == "trailing lead byte Ã"
    assert out[4]["n_mojibake"] == 0


def test_fix_mojibake_roundtrip_cp1252(spark):
    """End-to-end: UTF-8 text mis-decoded as cp1252 (the real damage
    process, not a hand-built string) is recovered byte-exact for every
    char in MOJIBAKE_MAP."""
    from elastic_asset_etl_poc_spark.operators.text import (
        MOJIBAKE_MAP,
        fix_mojibake,
    )

    original = "’ ‘ “ ” – — … é è á ó ú ñ ü ö ä à « »"

    def sloppy_cp1252(bs: bytes) -> str:
        # cp1252 with the ftfy "sloppy" fallback: the five undefined
        # bytes (0x81 0x8d 0x8f 0x90 0x9d) pass through as C1 controls,
        # which is what real-world misdecoders do
        return "".join(
            bytes([b]).decode("cp1252", errors="ignore") or chr(b) for b in bs
        )

    damaged = sloppy_cp1252(original.encode("utf-8"))
    df = spark.createDataFrame([(1, damaged)], "doc_id int, text string")
    row = fix_mojibake(df).collect()[0]
    assert row["text_fixed"] == original
    assert row["n_mojibake"] == sum(original.count(g) for _, g in MOJIBAKE_MAP if g != " ")


def test_linear_classifier_hand_computed(spark):
    """Score equals sigmoid(bias + mean token weight); unknown buckets
    contribute 0; keep thresholds on the unrounded score; the weight
    join is a broadcast."""
    import hashlib
    import math

    from elastic_asset_etl_poc_spark.operators.text import (
        linear_classifier_score,
    )

    def bucket(tok, n=16):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma gamma gamma"), (3, "unknowntoken")],
        "doc_id int, text string",
    )
    wmap = {bucket("alpha"): 2.0, bucket("beta"): -1.0, bucket("gamma"): -3.0}
    # deliberately omit unknowntoken's bucket unless it collides
    wmap.pop(bucket("unknowntoken"), None)
    w = spark.createDataFrame(
        [(b, wt) for b, wt in wmap.items()], "bucket int, weight double"
    )
    out = linear_classifier_score(
        docs, w, n_buckets=16, bias=0.5, threshold=0.5
    )
    got = {r["doc_id"]: r for r in out.collect()}

    def sig(z):
        return 1.0 / (1.0 + math.exp(-z))

    exp1 = sig(0.5 + (wmap.get(bucket("alpha"), 0.0) + wmap.get(bucket("beta"), 0.0)) / 2)
    exp2 = sig(0.5 + 3 * wmap.get(bucket("gamma"), 0.0) / 3)
    exp3 = sig(0.5 + 0.0)
    assert abs(got[1]["quality_score"] - round(exp1, 4)) < 1e-9
    assert abs(got[2]["quality_score"] - round(exp2, 4)) < 1e-9
    assert abs(got[3]["quality_score"] - round(exp3, 4)) < 1e-9
    assert got[1]["keep"] == (exp1 >= 0.5)
    assert got[2]["keep"] == (exp2 >= 0.5)
    assert got[3]["keep"] == (exp3 >= 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_linear_classifier_scores_token_less_docs(spark):
    """Every document is scored: NULL-text docs (explode yields no rows)
    come back with the prior sigmoid(bias), not silently dropped."""
    import math

    from elastic_asset_etl_poc_spark.operators.text import (
        linear_classifier_score,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "")],
        "doc_id int, text string",
    )
    w = spark.createDataFrame([(0, 1.0)], "bucket int, weight double")
    out = linear_classifier_score(docs, w, n_buckets=16, bias=0.3)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3}
    prior = 1.0 / (1.0 + math.exp(-0.3))
    assert abs(got[2]["quality_score"] - round(prior, 4)) < 1e-9
    assert got[2]["keep"] == (prior >= 0.5)


def test_kl_novelty_hand_computed(spark):
    """d1='a a', d2='b' vs corpus {a:2,b:1}: KL(d1)=ln(3/2), KL(d2)=ln(3);
    a doc matching the corpus distribution exactly scores 0."""
    import math

    from elastic_asset_etl_poc_spark.operators.text import kl_novelty

    df = spark.createDataFrame(
        [(1, "a a"), (2, "b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in kl_novelty(df).collect()}
    assert out[1]["n_tokens"] == 2 and out[2]["n_tokens"] == 1
    assert abs(out[1]["kl_novelty"] - round(math.log(1.5), 4)) < 1e-9
    assert abs(out[2]["kl_novelty"] - round(math.log(3.0), 4)) < 1e-9

    solo = kl_novelty(
        spark.createDataFrame([(1, "x y x")], "doc_id long, text string")
    ).collect()[0]
    assert solo["kl_novelty"] == 0.0


def test_fingerprint_store_lifecycle_generic(spark, tmp_path):
    """Modality-agnostic fingerprint store: batch-1 probe finds the
    1-bit neighbor in the store; with update_store=True batch 2 then
    pairs against batch 1's appended fingerprints too."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        fingerprint_neardup_incremental,
        fingerprint_store_init,
    )

    path = str(tmp_path / "fpstore")
    base = 0x0123456789ABCDEF
    corpus = spark.createDataFrame(
        [(1, base), (2, base ^ 0x7F00FF00FF00FF00)],
        "doc_id long, simhash long",
    )
    fingerprint_store_init(corpus, path)

    b1 = spark.createDataFrame([(10, base ^ 1)], "doc_id long, simhash long")
    p1 = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_neardup_incremental(
            b1, path, max_hamming=3, update_store=True
        ).collect()
    }
    assert p1 == {(1, 10)}

    b2 = spark.createDataFrame([(20, base ^ 3)], "doc_id long, simhash long")
    p2 = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_neardup_incremental(b2, path, max_hamming=3).collect()
    }
    # batch 2 pairs with BOTH the original corpus doc and batch 1's
    # appended fingerprint (hamming 1 and 2) — never with the far doc
    assert p2 == {(1, 20), (10, 20)}


def test_fingerprint_incremental_id_by_name_not_position(spark, tmp_path):
    """Batch ids are selected by NAME: a (simhash, doc_id)-ordered batch
    frame must behave identically to the canonical column order."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        fingerprint_neardup_incremental,
        fingerprint_store_init,
    )

    path = str(tmp_path / "fpstore_swapped")
    base = 0x0123456789ABCDEF
    fingerprint_store_init(
        spark.createDataFrame([(1, base)], "doc_id long, simhash long"), path
    )
    swapped = spark.createDataFrame(
        [(base ^ 1, 10)], "simhash long, doc_id long"
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_neardup_incremental(
            swapped, path, max_hamming=3
        ).collect()
    }
    assert pairs == {(1, 10)}


def test_banded_candidate_stats_consistent_with_pairs(spark):
    """n_pairs in the stats frame equals the real banded join output;
    n_candidates is >= the number of distinct-fingerprint matches
    (candidates are pre-verification, so never fewer)."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        banded_hamming_candidate_stats,
        banded_hamming_pairs,
    )

    base = 0x0123456789ABCDEF
    fps = spark.createDataFrame(
        [(1, base), (2, base ^ 1), (3, base ^ 1), (4, base ^ (0xFF << 32))],
        "doc_id long, simhash long",
    )
    stats = banded_hamming_candidate_stats(fps, max_hamming=3).collect()[0]
    n_pairs = banded_hamming_pairs(fps, max_hamming=3).count()
    assert stats["n_pairs"] == n_pairs == 3  # (1,2),(1,3),(2,3)
    assert stats["n_candidates"] >= 1


def test_train_linear_classifier_learns_separating_token(spark):
    """On a corpus where one token perfectly predicts the label, three
    gradient steps must score positive docs above negative ones when the
    trained model is fed back into linear_classifier_score."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.text import (
        linear_classifier_score,
        train_linear_classifier,
    )

    rows = []
    for i in range(20):
        rows.append((f"p{i}", "good clean prose here", 1.0))
        rows.append((f"n{i}", "spam junk noise blob", 0.0))
    df = spark.createDataFrame(rows, "doc_id string, text string, y double")
    model = train_linear_classifier(df, "y", n_buckets=32, steps=3)
    rowsm = model.collect()
    assert [r.bucket for r in rowsm if r.bucket == -1] == [-1]  # bias row
    bias = [r.weight for r in rowsm if r.bucket == -1][0]
    w = spark.createDataFrame(
        [(r.bucket, r.weight) for r in rowsm if r.bucket >= 0],
        "bucket int, weight double",
    )
    scored = linear_classifier_score(
        df, w, n_buckets=32, bias=bias
    ).withColumn("is_pos", F.col("doc_id").startswith("p"))
    agg = {
        r.is_pos: r.m
        for r in scored.groupBy("is_pos")
        .agg(F.avg("quality_score").alias("m"))
        .collect()
    }
    assert agg[True] > 0.5 > agg[False]


def test_train_linear_classifier_deterministic_under_repartition(spark):
    from elastic_asset_etl_poc_spark.operators.text import (
        train_linear_classifier,
    )

    df = spark.createDataFrame(
        [(f"d{i}", f"tok{i % 7} tok{i % 3} filler", float(i % 2))
         for i in range(30)],
        "doc_id string, text string, y double",
    )
    a = sorted(
        (r.bucket, round(r.weight, 9))
        for r in train_linear_classifier(df, "y", n_buckets=16).collect()
    )
    b = sorted(
        (r.bucket, round(r.weight, 9))
        for r in train_linear_classifier(
            df.repartition(11), "y", n_buckets=16
        ).collect()
    )
    assert a == b


def test_train_linear_classifier_null_text_excluded(spark):
    from elastic_asset_etl_poc_spark.operators.text import (
        train_linear_classifier,
    )

    df = spark.createDataFrame(
        [("a", "x y", 1.0), ("b", None, 0.0)],
        "doc_id string, text string, y double",
    )
    model = train_linear_classifier(df, "y", n_buckets=8, steps=1)
    # one doc trains: first-step errors are sigmoid(0)-1 = -0.5 for it;
    # bias moves up — the NULL-text doc contributes nothing
    bias = [r.weight for r in model.collect() if r.bucket == -1][0]
    assert bias == 0.5


def test_train_linear_classifier_null_label_rejected(spark):
    """A NULL label is an UNLABELED doc: it must be excluded from the
    fit entirely — both from the gradient AND from n_docs (the pre-fix
    suite shape dropped it from the gradient but counted it in the
    denominator, silently shrinking the step).  With the NULL-label row
    excluded, the model is bit-identical to training on the labeled
    subset alone."""
    from elastic_asset_etl_poc_spark.operators.text import (
        train_linear_classifier,
    )

    labeled = [("a", "x y", 1.0), ("b", "x z", 0.0)]
    df_with_null = spark.createDataFrame(
        labeled + [("c", "x q", None)],
        "doc_id string, text string, y double",
    )
    df_clean = spark.createDataFrame(
        labeled, "doc_id string, text string, y double"
    )
    got = {
        (r.bucket, round(r.weight, 12))
        for r in train_linear_classifier(
            df_with_null, "y", n_buckets=8, steps=2
        ).collect()
    }
    want = {
        (r.bucket, round(r.weight, 12))
        for r in train_linear_classifier(
            df_clean, "y", n_buckets=8, steps=2
        ).collect()
    }
    assert got == want


def test_suite_classifier_label_null_lang_is_negative(spark):
    """The suite's label expression must map NULL lang → 0.0 (matching
    the DuckDB oracle's CASE WHEN), not NULL → excluded — parity held
    pre-fix only because the fixtures carry no NULL lang."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "en"), ("b", "de"), ("c", None)], "doc_id string, lang string"
    )
    out = df.withColumn(
        "__lbl", F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    ).collect()
    lbl = {r["doc_id"]: r["__lbl"] for r in out}
    assert lbl == {"a": 1.0, "b": 0.0, "c": 0.0}


def test_containment_catches_doc_inside_doc(spark):
    """A short doc fully embedded in a long one: containment = 1.0 while
    jaccard stays far below a 0.8 dedup threshold — the asymmetric-dup
    class the symmetric pass structurally misses."""
    from pyspark.sql import functions as F  # noqa: F401

    from elastic_asset_etl_poc_spark.operators.neardup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = " ".join(f"w{i}" for i in range(20))
    long = short + " " + " ".join(f"x{i}" for i in range(200))
    other = " ".join(f"y{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    assert set(pairs) == {(1, 2)}
    c, j = pairs[(1, 2)]
    assert c == 1.0  # every shingle of the short doc is in the long one
    assert j < 0.2  # and the symmetric score would never flag it
    # sanity: the jaccard operator at 0.8 indeed returns nothing here
    assert jaccard_pairs(docs, threshold=0.8).count() == 0


def test_dsir_importance_hand_computed(spark):
    """DSIR log-ratio on a 3-doc corpus small enough to verify by hand:
    one target doc, one source-only doc sharing no bigrams with it, one
    1-token doc (no bigrams).  With every bigram hashing to distinct
    buckets (checked, not assumed), each bigram occurs once in source
    (cs=1) and target-doc bigrams once in target (ct=1), so add-1
    smoothing gives ln(2/(nt+B)) - ln(2/(ns+B)) per target bigram and
    ln(1/(nt+B)) - ln(2/(ns+B)) per source-only bigram — target docs
    land positive/selected, source-only docs negative/unselected."""
    import math

    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.text import dsir_importance

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", True), (2, "delta epsilon zeta", False), (3, "solo", False)],
        "doc_id long, text string, tgt boolean",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dsir_importance(docs, F.col("tgt"), n_buckets=1024).collect()
    }
    assert set(out) == {1, 2, 3}
    # bucket collisions would change the hand numbers — verify disjoint
    grams = ["alpha beta", "beta gamma", "delta epsilon", "epsilon zeta"]
    bks = {
        r["b"]
        for r in spark.createDataFrame([(g,) for g in grams], "g string")
        .select((F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % 1024).alias("b"))
        .collect()
    }
    assert len(bks) == 4
    ns, nt, B = 4, 2, 1024
    per_tgt = math.log(2 / (nt + B)) - math.log(2 / (ns + B))
    per_src = math.log(1 / (nt + B)) - math.log(2 / (ns + B))
    assert out[1]["n_bigrams"] == 2
    assert out[1]["dsir_logw"] == round(2 * per_tgt, 4)
    assert out[1]["selected"] is True
    assert out[2]["n_bigrams"] == 2
    assert out[2]["dsir_logw"] == round(2 * per_src, 4)
    assert out[2]["selected"] is False
    assert out[3] == {"doc_id": 3, "n_bigrams": 0, "dsir_logw": 0.0, "selected": False}
