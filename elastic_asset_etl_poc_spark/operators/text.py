"""Text-analysis operators for training-data pipelines.

Not in the reference (its only string work is EAN concatenation, SURVEY.md
§2.8); these are the text-side operators a 100 TB document pipeline needs:
token counting, quality scoring, language ID, fingerprinting.  All builtin
column expressions running JVM-side, so there is no Python row tax
(precision note, r15: the array/lambda higher-order functions here are
CodegenFallback — their stages evaluate interpreted, not inside
WholeStageCodegen; that is a bounded map-stage cost, see
operators/bloom.py for the case where it is NOT acceptable).

Engine-portability: every function here has an exact DuckDB-SQL twin in
``__spark_entry__.oracle_sql`` — same tokenization (single-space split),
same arithmetic — so the driver's oracle can hash-match results.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny English function-word list for the language-ID / quality heuristics
STOPWORDS = ("the", "a")

#: weights for the positional token fingerprint (exact integer arithmetic —
#: portable across engines, unlike float hashing)
FP_TOKEN_WEIGHT = 131


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (fixture text is single-space separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_count(col: Column | str, words: tuple[str, ...] = STOPWORDS) -> Column:
    """Tokens equal to any stopword, duplicates counted.

    Formulated as size(toks) minus size after an ``array_remove`` fold
    over the (config-constant, tiny) stopword list rather than
    ``F.filter(toks, λ)``: higher-order functions are CodegenFallback
    and exclude their whole stage from WholeStageCodegen, and this
    kernel sits in corpus-scan filter predicates (corpus_clean_docs /
    training_manifest_docs) — the r15 bloom lesson.  ``array_remove``
    drops ALL occurrences of one value and keeps duplicates of others,
    so the count is identical to the filtered-size form."""
    toks = tokens(col)
    cleaned = toks
    for w in words:
        cleaned = F.array_remove(cleaned, w)
    return F.size(toks) - F.size(cleaned)


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring projection: token count, mean token length,
    stopword ratio, and a keep/drop flag (simple heuristics in the spirit
    of C4/Gopher quality rules — length bounds + function-word presence).
    """
    c = F.col(text_col)
    n_tok = token_count(c)
    n_stop = stopword_count(c)
    mean_len = F.round(
        (F.length(c) - (n_tok - F.lit(1))) / n_tok, 4
    )  # chars minus separators, per token
    stop_ratio = F.round(n_stop.cast("double") / n_tok, 4)
    return df.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        F.length(c).alias("n_chars"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        ((n_tok >= F.lit(10)) & (n_tok <= F.lit(1000)) & (stop_ratio > F.lit(0))).alias(
            "quality_keep"
        ),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: English function words present → 'en'.

    A real deployment swaps in a fastText/CLD3 pandas UDF; the heuristic
    keeps the operator shape (per-doc classify → groupable label) while
    staying JVM-side and oracle-checkable.
    """
    pred = F.when(
        F.array_contains(tokens(text_col), STOPWORDS[0]), F.lit("en")
    ).otherwise(F.lit("other"))
    return df.select(F.col("doc_id"), F.col("lang"), pred.alias("pred_lang"))


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text normalization (the step before any dedup/fingerprint
    pass): lowercase, strip non-alphanumerics to spaces, collapse runs of
    whitespace, trim.  Pure ``regexp_replace`` chain — JVM-side, codegen,
    and portable (the patterns avoid engine-specific regex syntax so the
    DuckDB oracle applies the identical chain).
    """
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return df.withColumn(out_col, F.trim(c))


#: UTF-8-bytes-misdecoded-as-cp1252 repair table (ftfy's core case):
#: each entry is (mojibake sequence, intended character).  Literal
#: string replacements — identical in Spark and the DuckDB oracle.
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),   # right single quote
    ("â€˜", "‘"),   # left single quote
    ("â€œ", "“"),   # left double quote
    ("â€\x9d", "”"),  # right double quote (9d = cp1252 undefined)
    ("â€“", "–"),   # en dash
    ("â€”", "—"),   # em dash
    ("â€¦", "…"),   # ellipsis
    ("Ã©", "é"),
    ("Ã¨", "è"),
    ("Ã¡", "á"),
    ("Ã³", "ó"),
    ("Ãº", "ú"),
    ("Ã±", "ñ"),
    ("Ã¼", "ü"),
    ("Ã¶", "ö"),
    ("Ã¤", "ä"),
    ("Ã\xa0", "à"),      # a0 = cp1252 NBSP
    ("Â«", "«"),
    ("Â»", "»"),
    ("Â\xa0", " "),  # stray  before NBSP
)

#: one pass of the marker detector: every mojibake sequence starts with
#: one of these cp1252 lead bytes followed by a continuation char
_MOJIBAKE_MARKER = "(â€|Ã|Â)."


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "text_fixed"
) -> DataFrame:
    """Encoding repair for web-crawled corpora: undo the classic
    UTF-8-decoded-as-cp1252 double-encoding (``â€™`` → ``'``-class
    smart-quote damage, ``Ã©`` → ``é`` accents), the highest-frequency
    ftfy fix class.

    Adds ``out_col`` (repaired text) and ``n_mojibake`` (marker count
    BEFORE repair — the quality signal; a document that is *mostly*
    markers is usually binary junk, not prose).  Literal-replace chain:
    JVM-side, map-only, no shuffle, linear — the same 100-TB posture as
    :func:`redact_pii`.  Sequences the map doesn't know stay untouched
    (and still count), so the pass is safe to run on clean text.
    """
    c = F.col(text_col)
    n = F.when(
        c.isNotNull(), F.size(F.regexp_extract_all(c, F.lit(_MOJIBAKE_MARKER), 0))
    )
    fixed = c
    for bad, good in MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return df.withColumn(out_col, fixed).withColumn("n_mojibake", n)


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint (rolling-hash analog).

    fp = Σ_i  i · (ascii(token_i[0]) · 131 + len(token_i)) over 1-based
    positions — exact int64 arithmetic, position-weighted so permuted
    documents fingerprint differently.  Computed with ``posexplode`` +
    hash-agg sum: linear, shuffle-once, no Python.
    """
    toks = tokens(text_col)
    exploded = df.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    tokval = F.ascii(F.col("tok")) * F.lit(FP_TOKEN_WEIGHT) + F.length(F.col("tok"))
    return (
        exploded.select(
            "doc_id", ((F.col("pos") + F.lit(1)).cast("long") * tokval.cast("long")).alias("v")
        )
        .groupBy("doc_id")
        .agg(F.sum("v").alias("fingerprint"))
    )


#: (pattern, replacement) chain for PII scrubbing — patterns restricted
#: to syntax shared by Java regex (Spark) and RE2 (DuckDB) so the oracle
#: can apply the identical chain
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails, NANP-style
    phone numbers and IPv4 addresses with typed placeholder tokens, and
    count the redactions per document.

    Pure ``regexp_extract_all`` + ``regexp_replace`` chain — JVM-side
    codegen, map-only (no shuffle, no Python), linear in corpus size:
    the shape a 100 TB scrub pass needs.  Counts are computed BEFORE
    replacement so `<EMAIL>` tokens never double-count.
    """
    c = F.col(text_col)
    total: Column = F.lit(0)
    for pat, _rep in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
    # NULL text → NULL count: with ANSI off, size(NULL) is the legacy -1,
    # which would sum to a nonsense -3 (the DuckDB oracle yields NULL)
    n_redacted = F.when(c.isNotNull(), total)
    red = c
    for pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return df.withColumn(out_col, red).withColumn("n_redacted", n_redacted)


def linear_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    bias: float = 0.0,
    threshold: float = 0.5,
    out_col: str = "quality_score",
) -> DataFrame:
    """Hash-kernel linear model inference — the fastText-style quality
    classifier a pretraining pipeline runs over every document (CCNet /
    LLaMA "quality filtering" stage), as a pure Spark plan.

    ``weights`` is the trained model: a ``(bucket int, weight double)``
    frame (read from parquet in production — engine-portable like the
    IVF/PQ codebooks).  Features are hashed token buckets
    (md5-prefix % n_buckets, the hashing trick — identical in any
    engine with md5), score = ``sigmoid(bias + mean_t w[bucket(t)])``,
    ``keep = score >= threshold``.

    Scale shape: explode → broadcast weight join (the model is KB-sized)
    → one hash-agg back to documents.  ONE shuffle on ``id_col``; no
    Python, no model-server round-trips — inference rides the scan.
    Unknown buckets contribute weight 0 (coalesce), so a smaller model
    than ``n_buckets`` still scores every document.

    EVERY document is scored, including NULL-text ones: explode drops
    those rows, so they are unioned back with the prior score
    ``sigmoid(bias)`` — a map-only second pass over (id, text), cheaper
    at scale than joining the scored frame back to the corpus.  (Empty
    strings never take this branch: ``tokens`` is F.split, which yields
    ``[""]`` for empty text, so those score through the md5("") bucket
    in the main path — matching the DuckDB oracle.)
    """
    toks = tokens(text_col)
    base = df.select(
        id_col, F.size(toks).alias("__n"), F.explode(toks).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    scored = base.withColumn("__b", bucket).join(
        F.broadcast(weights), F.col("__b") == F.col("bucket"), "left"
    )
    per_doc = scored.groupBy(id_col, "__n").agg(
        F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__s")
    )
    z = F.lit(bias) + F.col("__s") / F.col("__n")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    with_tokens = per_doc.select(
        id_col,
        F.round(score, 4).alias(out_col),
        (score >= threshold).alias("keep"),
    )
    prior = 1.0 / (1.0 + math.exp(-bias))
    token_less = df.filter(F.col(text_col).isNull()).select(
        id_col,
        F.round(F.lit(prior), 4).alias(out_col),
        F.lit(prior >= threshold).alias("keep"),
    )
    return with_tokens.unionByName(token_less)


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1): duplicate
    token fraction, modal-token dominance, and duplicate bigram fraction.
    High values flag the degenerate boilerplate/spam documents a quality
    filter should drop before pretraining.

    All per-row array arithmetic — map-only, no shuffle, JVM-side codegen.
    Tokens are materialized into a column FIRST so the higher-order-function
    lambdas reference the array, not the ``split`` expression (referencing
    ``split`` inside a lambda re-evaluates it per element — quadratic).
    """
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    tk = F.col("__toks")
    n_tok = F.size(tk)
    uniq = F.array_distinct(tk)
    dup_tok = F.round((n_tok - F.size(uniq)) / n_tok, 4)
    # count of the modal token: sort once, then a single run-length
    # aggregate pass — O(n log n) per row vs the O(distinct · n) nested
    # transform/filter form (6× slower at sf0.1 in the r4 bench).
    sorted_tk = F.array_sort(tk)
    run_scan = F.aggregate(
        sorted_tk,
        F.struct(
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.when(x == acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
            x.alias("prev"),
        ),
        lambda acc: acc.getField("best"),
    )
    top_frac = F.round(run_scan / n_tok, 4)
    # bigrams via 1-based index walk; sequence(1, 0) is DESCENDING under
    # Spark 4 so the n_tok < 2 case must short-circuit to an empty array.
    # Materialized into a column (same reason as __toks): referenced three
    # times below, and higher-order functions are re-evaluated per
    # reference, not CSE'd by codegen.
    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.concat(
                F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        top_frac.alias("top_token_frac"),
        bigrams.alias("__bg"),
    )
    bg = F.col("__bg")
    return staged.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "top_token_frac",
        F.when(
            F.size(bg) > 0,
            F.round((F.size(bg) - F.size(F.array_distinct(bg))) / F.size(bg), 4),
        ).alias("dup_bigram_frac"),
    )


def tfidf_score(
    df: DataFrame, terms: tuple[str, ...], text_col: str = "text"
) -> DataFrame:
    """TF-IDF scores for a fixed term list: tf(doc, term) · ln(N / df(term)).

    The relevance-scoring primitive behind corpus search / topic filtering
    (the reference's ES backend scores with BM25 — same tf·idf family;
    `lib/es_client.ts` issues the queries, scoring stays server-side).

    Scale shape: explode only MATCHING tokens (the term filter runs inside
    the array before explode — row blowup is Σ tf, not corpus token count),
    one hash-agg for tf, a second tiny agg for df, then broadcast joins of
    the |terms|-row df table and the 1-row corpus count.  No window, no
    driver action.
    """
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    term_arr = F.array(*[F.lit(t) for t in terms])
    exploded = base.select(
        "doc_id",
        F.explode(
            F.filter(F.col("__toks"), lambda t: F.array_contains(term_arr, t))
        ).alias("term"),
    )
    tf = exploded.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    n_docs = base.agg(F.count("*").alias("__n"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("__df")), 4).alias(
                "tfidf"
            ),
        )
    )


def hash_embed(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    embeddings: each token hashes to a dimension index and a ±1 sign;
    the document vector is the L2-normalized signed token-count
    histogram.  Bridges the text side into the embedding operators —
    ``cosine_topk`` / ``cosine_pairs_lsh`` / ``ivf_topk`` consume the
    output directly, giving similarity search over raw text with no
    model inference.

    The token hash is the same exact-integer family as
    :func:`doc_fingerprint` (``ascii(tok)·131 + len(tok)``) so the
    long-form output is engine-portable and oracle-checkable; a
    production corpus swaps in ``xxhash64`` for better dispersion (one
    expression — the plan shape is identical).

    Scale shape: explode → one hash-agg on (doc, idx) → one hash-agg to
    assemble the dense vector from a sparse entry map — two shuffles,
    both with map-side partial aggregation, no Python, no driver action.
    Returns (doc_id, embedding array<double>).
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    exploded = base.select("doc_id", F.explode("__toks").alias("tok"))
    h = (
        F.ascii(F.col("tok")).cast("long") * F.lit(FP_TOKEN_WEIGHT)
        + F.length(F.col("tok")).cast("long")
    )
    idx = F.pmod(h, F.lit(dim)).cast("int")
    sign = F.when(F.pmod(h - idx, F.lit(2 * dim)) == 0, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )
    sparse = (
        exploded.select("doc_id", idx.alias("idx"), sign.alias("w"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("w").alias("w"))
    )
    # the L2 norm comes from the SPARSE side (zeros contribute nothing),
    # as one extra aggregate column: a post-hoc array fold would sit
    # inside the dense transform's lambda and re-evaluate the whole
    # vector expression per element — O(dim²·entries) per row, measured
    # 10s for 5k docs vs 0.5s for this form
    entries = sparse.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "w"))).alias("__m"),
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("__norm"),
    )
    denom = F.when(F.col("__norm") > 0, F.col("__norm")).otherwise(F.lit(1.0))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("__m")[i], F.lit(0.0)) / denom,
    )
    return entries.select("doc_id", vec.alias("embedding"))


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-unigram language-model score per document: the mean
    ln p(token) under the corpus's own unigram distribution — the
    perplexity-proxy quality filter of CCNet/CC-style pipelines
    (documents full of rare/garbage tokens score low, boilerplate made
    of corpus-typical tokens scores high).  A production pipeline swaps
    the self-trained unigram table for a fixed KenLM/reference-corpus
    table — the plan shape (broadcast vocab join) is unchanged.

    Scale shape: one explode, one hash-agg for the vocab frequency
    table (vocabulary-sized — broadcast back), a 1-row corpus total,
    then a per-doc hash-agg of ln-probs.  No Python, no window, no
    driver action.
    """
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    exploded = base.select("doc_id", F.explode("__toks").alias("tok"))
    freqs = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("__cnt"))
    total = exploded.agg(F.count(F.lit(1)).alias("__total"))
    scored = exploded.join(F.broadcast(freqs), "tok").crossJoin(
        F.broadcast(total)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.log(F.col("__cnt") / F.col("__total"))), 4).alias(
            "avg_logprob"
        ),
    )


def kl_novelty(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document KL divergence from the corpus unigram distribution:
    ``KL(p_doc ‖ p_corpus) = Σ_tok p_doc·ln(p_doc/p_corpus)`` — the
    distribution-shift / novelty signal (high = off-distribution
    content worth inspecting or upweighting; ~0 = boilerplate).  The
    directional complement of :func:`unigram_logprob`'s typicality
    score; in production the corpus table is a fixed reference
    distribution and the same plan measures drift of a NEW crawl drop
    against it.

    Scale shape identical to unigram_logprob: one explode, a
    vocabulary-sized frequency table broadcast back, one per-doc
    hash-agg over (doc, tok) counts.  KL is always finite here because
    every doc token exists in the corpus table (p_corpus > 0).
    """
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    exploded = base.select("doc_id", F.explode("__toks").alias("tok"))
    from pyspark.sql.window import Window

    dt = exploded.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("__dc")
    )
    # doc length via a frame-less window sum: the doc_id exchange it
    # introduces is the SAME partitioning the final groupBy needs, so
    # Catalyst reuses one exchange instead of a join round-trip
    # CARDINALITY HONESTY (r17): dt is every distinct (doc, token)
    # pair — CORPUS-scale (proportional to total token volume, not
    # vocab-bounded).  This localCheckpoint trades one corpus-sized
    # executor-local, non-replicated materialization for two whole
    # corpus re-tokenizations; at cluster scale with executor churn
    # the production form is persist(MEMORY_AND_DISK) (recomputable
    # lineage, same storage bound) — see DESIGN.md "localCheckpoint
    # vs persist policy".
    dt = dt.withColumn(
        "__dl", F.sum("__dc").over(Window.partitionBy("doc_id"))
    ).localCheckpoint(eager=False)
    # corpus frequencies and the token total both DERIVE from the
    # materialized (doc, tok) counts — Σ_doc __dc per token and Σ __cnt —
    # so the corpus tokenize+explode runs ONCE per action, not three
    # times (it fed freqs, total, and dt as duplicated subtrees before)
    freqs = dt.groupBy("tok").agg(F.sum("__dc").alias("__cnt"))
    total = freqs.agg(F.sum("__cnt").alias("__total"))
    scored = dt.join(F.broadcast(freqs), "tok").crossJoin(
        F.broadcast(total)
    )
    p_doc = F.col("__dc") / F.col("__dl")
    p_corp = F.col("__cnt") / F.col("__total")
    return scored.groupBy("doc_id").agg(
        F.sum("__dc").cast("long").alias("n_tokens"),
        F.round(F.sum(p_doc * F.log(p_doc / p_corp)), 4).alias("kl_novelty"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking
    step before embedding/RAG indexing or fixed-context training:
    stride = chunk_tokens − overlap, every token lands in at least one
    chunk, the final chunk may run short.  Returns (doc_id, chunk_id,
    n_chunk_tokens, chunk_text).

    Scale shape: tokens are eagerly checkpointed (the CollapseProject
    split-in-lambda trap — see duplicate_ngram_spans), then each doc
    builds its chunk array in ONE pass and explodes chunk structs, so
    the blow-up is the ≤ chunk/stride coverage factor (~1.3× here),
    never tokens × chunks (exploding start offsets first would copy
    the whole token array once per chunk — quadratic for long docs).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__toks"))
    base = base.localCheckpoint(eager=True)
    tk = F.col("__toks")
    n_tok = F.size(tk)
    starts = F.sequence(
        F.lit(1), F.greatest(n_tok - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.floor((s - 1) / stride).cast("int").alias("chunk_id"),
            F.size(F.slice(tk, s, chunk_tokens)).alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(tk, s, chunk_tokens)).alias("chunk_text"),
        ),
    )
    return (
        base.filter(n_tok >= 1)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_text")
    )


def remove_boilerplate_segments(
    df: DataFrame,
    seg_len: int = 5,
    max_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate removal (CCNet-style, segment grain):
    drop every fixed-length token segment whose text appears in more
    than ``max_df`` distinct documents (headers, footers, license
    blocks, nav chrome), then reassemble each document from its
    surviving segments in order.

    Returns (doc_id, clean_text, n_removed) — one row per input doc;
    a fully-boilerplate doc survives with ``clean_text = ''``.

    Scale shape: one segment explode (blow-up = n_tokens / seg_len),
    one hash-agg for segment doc-frequency, then a **broadcast anti-
    join** against the (tiny, by Zipf) hot-segment set — the same
    hot-element pattern as ``neardup.capped_sets`` but with a distinct-
    doc count, since a segment can legitimately repeat inside one doc.
    Reassembly is a per-doc ``array_sort(collect_list(struct))`` — no
    window, no corpus-wide sort.
    """
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    nseg = F.ceil(F.size(t) / F.lit(seg_len)).cast("int")
    idxs = F.when(
        F.size(t) >= 1, F.sequence(F.lit(0), nseg - 1)
    ).otherwise(F.array().cast("array<int>"))
    segs = base.select(
        "doc_id",
        F.explode(idxs).alias("i"),
        t.alias("__t"),
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", F.slice(F.col("__t"), F.col("i") * seg_len + 1, seg_len)
        ).alias("seg"),
    )
    # segs feeds both the df-aggregate and the anti-join probe
    segs = segs.cache()
    hot = (
        segs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("seg")
    )
    kept = segs.join(F.broadcast(hot), "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = base.select("doc_id", nseg.alias("__n_segs"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("__n_segs") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", lam: float = 0.7
) -> DataFrame:
    """Interpolated-bigram LM score per document — the step up from
    :func:`unigram_logprob` toward the KenLM n-gram scoring CCNet uses:
    mean over in-doc bigram positions of
    ``ln( lam·p(w_i | w_{i-1}) + (1−lam)·p(w_i) )``, both distributions
    self-trained on the corpus (a production pipeline swaps in a fixed
    reference-corpus table; the plan shape is identical).  Interpolation
    with the unigram floor means unseen-in-context tokens degrade the
    score smoothly instead of −inf.  Docs with < 2 tokens have no
    bigrams and are omitted.

    Scale shape: the unigram table is vocabulary-sized → broadcast
    (twice: context and current token); the bigram count table is
    vocab²-bounded and NOT broadcast — it joins on (prev, cur) as a
    plain shuffle join AQE can size at runtime.  One explode, three
    hash-aggs, no Python, no window.

    The bigram stream and the unigram table each feed MULTIPLE
    consumers (bg: the probe side and the bigram-count agg; uni: both
    broadcasts and the token total), so both are lazily checkpointed —
    without that, Catalyst duplicates the subtrees and the corpus
    tokenize+explode ran SIX times per action (measured at sf0.1:
    3.5 → 1.3 s exec).  The token total is the SUM of unigram counts —
    same value as counting the exploded stream, zero extra corpus pass.

    Returns (doc_id, n_bigrams, avg_logprob) with the score at 4 dp.
    """
    base = df.select(F.col("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    # CARDINALITY HONESTY (r17): bg is the full exploded bigram stream
    # (one row per in-doc token position) — CORPUS-PAYLOAD-scale, the
    # largest frame this operator touches.  The localCheckpoint trades
    # that one executor-local, non-replicated store for ~5 corpus
    # re-tokenizations (measured 3.5→1.3 s exec at sf0.1); at cluster
    # scale the production form is persist(MEMORY_AND_DISK), which
    # keeps the lineage recomputable under executor loss at the same
    # storage bound — see DESIGN.md "localCheckpoint vs persist".
    bg = base.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur")
    ).localCheckpoint(eager=False)
    exploded = base.select(F.explode(t).alias("tok"))
    uni = exploded.groupBy("tok").agg(
        F.count(F.lit(1)).alias("__ucnt")
    ).localCheckpoint(eager=False)
    total = uni.agg(F.sum("__ucnt").alias("__total"))
    big = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("__bcnt"))
    up = F.broadcast(uni.select(F.col("tok").alias("prev"), F.col("__ucnt").alias("__pcnt")))
    uc = F.broadcast(uni.select(F.col("tok").alias("cur"), F.col("__ucnt").alias("__ccnt")))
    p = (
        F.lit(lam) * (F.col("__bcnt") / F.col("__pcnt"))
        + F.lit(1.0 - lam) * (F.col("__ccnt") / F.col("__total"))
    )
    return (
        bg.join(big, ["prev", "cur"])
        .join(up, "prev")
        .join(uc, "cur")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
    )


def train_linear_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    steps: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """TRAIN the hash-kernel quality classifier in-engine — full-batch
    logistic regression by gradient descent, closing the loop whose
    inference half is :func:`linear_classifier_score` (same tokens, same
    md5-bucket features, same ``sigmoid(bias + mean-bucket-weight)``
    model form, so the returned frame feeds straight into scoring).

    A pretraining pipeline labels a seed set (wiki-vs-crawl, curated-vs-
    spam) and fits exactly this model (CCNet / fastText quality stage);
    doing it as DataFrame aggregates means no MLlib dependency, no
    driver-side feature matrix, and an oracle-replayable recurrence.

    Per step (classic full-batch logistic gradient):
        z_i   = bias + Σ_b w_b·cnt_ib / n_i
        err_i = σ(z_i) − y_i
        w_b  −= lr · Σ_i err_i·cnt_ib/n_i / N ;  bias −= lr · Σ_i err_i / N

    Scale shape: the corpus tokenizes ONCE into a per-(doc, bucket)
    count frame (one shuffle) and is localCheckpointed; each step is a
    SINGLE pass over that frame — the weight lookup is a literal map
    (the model is KB-sized, no join), the per-doc z/error attaches to
    every feature row through one window over ``id_col`` (one
    sort-exchange; a join of a per-doc error frame was rejected because
    at 10¹⁰ docs the error frame is unbroadcastable and checkpointing
    erases the partitioning a co-located join would need), and the
    per-bucket gradient is one tiny hash agg.  The only driver traffic
    is the model itself (``n_buckets`` rows per step — model-sized, not
    data-sized; the bpe_train / bpe_segment bounded-collect
    discipline).  ``steps`` is fixed and small, as in pagerank/HITS.

    NULL-text docs are excluded from training (they carry no features),
    and so are NULL-label docs (unlabeled ≠ negative — callers wanting
    "non-en counts as 0" must say so with ``F.when(...).otherwise(0.0)``);
    labels must be 0/1.  Returns ``(bucket int, weight double)`` with
    the bias at ``bucket = -1`` — the parquet-portable model shape the
    scorer consumes.
    """
    toks = tokens(text_col)
    # NULL labels are rejected (filtered), not coerced: a NULL-labeled doc
    # is an UNLABELED doc and must not enter the seed fit — silently
    # counting it in n_docs while dropping it from the gradient (the
    # pre-fix suite behavior) skews the effective learning rate.
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("double").alias("__y"),
        F.size(toks).alias("__n"),
        F.explode(toks).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    # NOTE (r17, measured): pre-partitioning feat by __id before the
    # checkpoint does NOT remove the per-step window exchange — under
    # AQE the checkpointed LogicalRDD reports no usable output
    # partitioning (verified in the plan: Exchange hashpartitioning
    # remains above Scan ExistingRDD), so the extra repartition is pure
    # cost and the per-step exchange of this bounded (docs×buckets)
    # frame stays.
    feat = (
        base.withColumn("__b", bucket)
        .groupBy("__id", "__y", "__n", "__b")
        .agg(F.count(F.lit(1)).cast("double").alias("__cnt"))
        .localCheckpoint()
    )
    n_docs = float(feat.select("__id").distinct().count())

    from pyspark.sql.window import Window

    w_id = Window.partitionBy("__id")
    weights: dict[int, float] = {}
    bias = 0.0
    for _ in range(steps):
        if weights:
            wmap = F.create_map(
                *[
                    F.lit(v)
                    for b, w in sorted(weights.items())
                    for v in (b, w)
                ]
            )
            wcol = F.coalesce(
                F.element_at(wmap, F.col("__b").cast("int")), F.lit(0.0)
            )
        else:
            wcol = F.lit(0.0)
        z = (
            F.lit(bias)
            + F.sum(wcol * F.col("__cnt")).over(w_id) / F.col("__n")
        )
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("__y")
        # err is per-DOC but attached to every feature row; dividing by
        # the doc's feature-row count makes Σ_rows err/rpd == Σ_docs err
        rpd = F.count(F.lit(1)).over(w_id)
        grads = (
            feat.select(
                "__b",
                (err * F.col("__cnt") / F.col("__n")).alias("__gpart"),
                (err / rpd).alias("__bpart"),
            )
            .groupBy("__b")
            .agg(
                F.sum("__gpart").alias("__g"),
                F.sum("__bpart").alias("__bg"),
            )
            .collect()
        )
        bias_g = sum(r["__bg"] for r in sorted(grads, key=lambda r: r["__b"]))
        for r in grads:
            b = int(r["__b"])
            weights[b] = weights.get(b, 0.0) - lr * r["__g"] / n_docs
        bias -= lr * bias_g / n_docs

    spark = df.sparkSession
    rows = [(-1, bias)] + [(b, w) for b, w in sorted(weights.items())]
    return spark.createDataFrame(rows, "bucket int, weight double")


def pmi_cooccur(
    docs: DataFrame,
    vocab_size: int = 50,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information over within-document token
    co-occurrence (Church & Hanks 1990): which vocabulary terms appear
    together MORE than their independent frequencies predict —
    collocation mining, the classic corpus-statistics building block
    for phrase detection and topic seeding.

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with document-level set
    semantics: P(x) = df(x)/N over the corpus.  The pair space is
    capped to the top-``vocab_size`` terms by document frequency BEFORE
    any pairing, so per-document pair generation is bounded by
    vocab_size² — the knob that keeps co-occurrence mining linear in
    corpus size at 100 TB (pair counts shuffle ≤ C(vocab,2) keys with
    map-side combine), instead of exploding with vocabulary.

    Ranking determinism across engines: the top-k orders by the exact
    RATIO n_ab/(df_a·df_b) — one IEEE division of integers, identical
    everywhere — with ln() applied only to the reported value, so a
    1-ulp libm difference can never reorder the result.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("t"),
    ).distinct()
    n_docs = docs.count()
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("dfq"))
        .orderBy(F.col("dfq").desc(), F.col("t").asc())
        .limit(vocab_size)
    )
    tv = toks.join(F.broadcast(vocab.select("t")), "t")
    pairs = (
        tv.select("doc_id", F.col("t").alias("ta"))
        .join(tv.select("doc_id", F.col("t").alias("tb")), "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    scored = (
        pairs.join(
            F.broadcast(
                vocab.select(F.col("t").alias("ta"), F.col("dfq").alias("dfa"))
            ),
            "ta",
        )
        .join(
            F.broadcast(
                vocab.select(F.col("t").alias("tb"), F.col("dfq").alias("dfb"))
            ),
            "tb",
        )
        .withColumn(
            "ratio",
            F.col("n_ab").cast("double") / (F.col("dfa") * F.col("dfb")),
        )
    )
    # top-k via orderBy().limit() (TakeOrderedAndProject), then rank
    # only the ≤ top_k survivors: the scored frame is vocab²-bounded,
    # but a generous vocab cap still shouldn't serialize C(vocab,2)
    # pairs through one no-partition window task (same pattern as
    # operators/skew.py); deterministic tiebreak keeps rows identical.
    top = scored.orderBy(
        F.col("ratio").desc(), F.col("ta"), F.col("tb")
    ).limit(top_k)
    w = Window.orderBy(F.col("ratio").desc(), F.col("ta"), F.col("tb"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            F.col("ta").alias("term_a"),
            F.col("tb").alias("term_b"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.log(F.col("ratio") * n_docs), 4).alias("pmi"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by the log-likelihood ratio of its hashed-bigram bag under
    a TARGET distribution (rows where ``target`` is true — e.g. a
    curated high-quality subset) versus the SOURCE distribution (the
    whole corpus), both add-1-smoothed over ``n_buckets`` hash
    buckets::

        log w(d) = Σ_{bigrams g ∈ d}  ln p̂_tgt[h(g)] − ln p̂_src[h(g)]

    The generative counterpart of ``train_linear_classifier``'s
    discriminative quality gate, and the feature-level counterpart of
    ``mixture_resample``'s domain-level reweighting: no gradient steps,
    one closed-form pass.  Bucket hash is the portable md5 prefix
    (identical in DuckDB), so the oracle replays it exactly.

    Scale shape — the paper's train-then-apply split, in-engine: the
    per-bucket (source, target) counts are ONE explode + one
    ``n_buckets``-bounded agg, COLLECTED once (1024 rows — the bounded-
    collect precedent of bloom geometry / calibration edges) and
    re-uploaded as a tiny broadcast log-ratio table with the logs
    computed JVM-side; scoring is then ONE corpus explode → map-side
    broadcast join → one doc-keyed agg.  A fully-lazy formulation
    evaluates the explode three times (the dbc / buckets / totals
    branches defeat exchange reuse via column pruning — measured on
    the first cut of this operator).  No window, no Python in the hot
    path.  Docs with < 2 tokens carry no bigrams: log w = 0, never
    selected (map-side filter branch, unioned — no corpus join).

    Returns (doc_id, n_bigrams, dsir_logw, selected) with the weight
    at 4 dp and ``selected`` = (rounded) log w > 0 — more target-like
    than source-average.
    """
    spark = df.sparkSession
    base = df.select(
        F.col("doc_id"), target.alias("__tgt"), tokens(text_col).alias("__t")
    )
    t = F.col("__t")
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).alias("b")
    bg = base.select("doc_id", "__tgt", F.explode(grams).alias("g")).select(
        "doc_id", "__tgt", bucket
    )
    # ---- "train": per-bucket counts, collected once (≤ n_buckets rows)
    counts = (
        bg.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cs"),
            F.sum(F.col("__tgt").cast("long")).alias("ct"),
        )
        .collect()
    )
    ns = sum(r["cs"] for r in counts)
    nt = sum(r["ct"] for r in counts)
    lr = F.broadcast(
        spark.createDataFrame(
            [(r["b"], r["cs"], r["ct"]) for r in counts],
            "b long, cs long, ct long",
        ).select(
            "b",
            (
                F.log((F.col("ct") + 1) / F.lit(float(nt + n_buckets)))
                - F.log((F.col("cs") + 1) / F.lit(float(ns + n_buckets)))
            ).alias("lr"),
        )
    )
    # ---- "apply": one corpus explode, map-side join, one doc agg
    scored = (
        bg.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("lr"), 4).alias("dsir_logw"),
        )
        .withColumn("selected", F.col("dsir_logw") > 0)
    )
    empties = base.filter(F.size(t) < 2).select(
        "doc_id",
        F.lit(0).cast("bigint").alias("n_bigrams"),
        F.lit(0.0).alias("dsir_logw"),
        F.lit(False).alias("selected"),
    )
    return scored.unionByName(empties)
