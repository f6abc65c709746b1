"""Mergeable distributed sketches: HyperLogLog and Count-Min, built so a
SQL oracle can replay them BIT-IDENTICALLY.

``cardinality_sketches`` (suite) already exposes Spark's own
``approx_count_distinct``/KLL — engine-internal register layouts, so that
query is rows-only checked.  These operators close the gap: the SAME
sketch math in portable expressions (md5-derived hashes, integer register
arithmetic), so the driver's DuckDB oracle hash-checks the sketch itself,
not just an audit twin.

Determinism engineering (the whole point of this module):

* Hashing is md5-substring → integer, identical text in both engines —
  never engine hash builtins (xxhash64 has no DuckDB twin).
* HLL's rho (leading-zero rank) comes from ``length(bin(w))`` — the
  binary-string length IS the bit length, exact on both engines; a
  float ``log2`` can land a hair under an exact power of two and
  mis-floor on one engine only.
* HLL register sums are INTEGER-scaled: ``sum(2^(W+1−rho))`` in BIGINT,
  divided back by ``2^(W+1)`` once at the end.  A float ``sum(2^−rho)``
  depends on partition/accumulation ORDER; an integer sum does not —
  this is what makes the estimate partition-count invariant.
* Count-Min cells are plain BIGINT sums (associative, order-free);
  the point estimate is ``min`` over d cells.

Scale shape: both sketches are one map-side-combinable aggregation over
a bounded cell domain (m registers / d×w cells), so the shuffle carries
the SKETCH, never the key space — the reason a 100-TB distinct-count or
frequency query ships kilobytes per executor instead of re-shuffling
rows.  Merging sketches = ``max`` per register (HLL) / ``+`` per cell
(CMS), demonstrated by ``hll_merge``.

No reference-repo counterpart (the reference's 782-LoC TS PoC has no
sketch surface); public algorithms: Flajolet et al. 2007 (HyperLogLog),
Cormode & Muthukrishnan 2005 (Count-Min).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: md5 yields 128 bits; 15 hex chars = 60 bits keeps the value inside a
#: signed BIGINT on both engines (16 chars could set the sign bit).
_HASH_BITS = 60


def _h60(col) -> F.Column:
    """First 60 bits of md5(col-as-string) as a non-negative BIGINT —
    the portable hash every sketch here keys on."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = 10
) -> DataFrame:
    """Per-group HLL register frame: (group…, idx, r) with
    idx ∈ [0, 2^p) and r = max rho observed in that register.

    rho = (leading zeros of the remaining W = 60−p hash bits) + 1,
    computed as ``W − length(bin(w)) + 1`` for w > 0 and W + 1 for
    w = 0 — pure integer/string ops, no float log.  One map-side-
    combinable aggregation; output is ≤ groups × 2^p rows regardless
    of corpus size (the sketch property)."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    # h is up to 2^60 — beyond double's exact integer range, so the
    # register split MUST be integer ops (% and DIV), never `/` (which
    # widens to double and can mis-round the top bits of w)
    hashed = df.select(*group_cols, _h60(F.col(key_col)).alias("__h"))
    w = F.expr(f"__h DIV {m}")
    rho = F.when(w > 0, w_bits - F.length(F.bin(w)) + 1).otherwise(
        w_bits + 1
    )
    return (
        hashed.select(
            *group_cols,
            (F.col("__h") % m).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(registers: DataFrame, out_group_cols: list[str]) -> DataFrame:
    """Merge register frames across groups: max per register — the
    operation that makes HLL sketches unionable without re-reading the
    corpus (pre-aggregate per ingest batch, merge at query time)."""
    return registers.groupBy(*out_group_cols, "idx").agg(
        F.max("r").alias("r")
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str], p: int = 10
) -> DataFrame:
    """Fold a register frame to one estimate row per group.

    Standard HLL estimator with the small-range (linear-counting)
    correction: E = α·m²/Σ2^−Mj; if E ≤ 2.5m and empty registers V > 0,
    E = m·ln(m/V).  The Σ2^−Mj sum runs INTEGER-scaled by 2^(W+1)
    (max ≈ 2^61 < BIGINT range), so accumulation order cannot perturb
    the estimate — division back to double happens exactly once."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scaled = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {w_bits + 1} - r)"
    )
    g = registers.groupBy(*group_cols).agg(
        F.sum(scaled).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    v_empty = F.lit(m) - F.col("n_regs")
    s_total = (
        F.col("s_present") + v_empty * F.lit(1 << (w_bits + 1))
    ).cast("double") / F.lit(float(1 << (w_bits + 1)))
    raw = F.lit(alpha * m * m) / s_total
    est = F.when(
        (raw <= 2.5 * m) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(raw)
    return g.select(*group_cols, est.alias("hll_estimate"))


def hll_registers_sql(
    key_expr: str, p: int = 10, src: str = "events", group_expr: str = "''"
) -> str:
    """DuckDB CTE pair ``hr``/``hreg`` restating hll_registers — SAME
    md5 slice, SAME bin()-length rho."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    return f"""
hr AS (
  SELECT {group_expr} AS grp,
         h % {m} AS idx,
         CASE WHEN h // {m} > 0
              THEN {w_bits} - length(bin(h // {m})) + 1
              ELSE {w_bits} + 1 END AS rho
  FROM (
    SELECT ('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT
             AS h, *
    FROM {src}
  )
),
hreg AS (
  SELECT grp, idx, max(rho) AS r FROM hr GROUP BY 1, 2
)"""


def hll_estimate_body_sql(reg_cte: str, p: int = 10) -> str:
    """The estimate SELECT over a register CTE (grp, idx, r) — split
    from the register build so merged-register CTEs (max over groups)
    can reuse the identical estimator text.

    The scaled register sum stays INTEGER through the addition
    (HUGEINT: DuckDB's overflow-checked BIGINT ops reject ~2^61
    intermediates that Spark's BIGINT carries fine) and converts to
    DOUBLE exactly once — the same single-rounding as the Spark side."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    alpha = repr(0.7213 / (1.0 + 1.079 / m))
    scale = float(1 << (w_bits + 1))
    raw = f"""CAST({alpha} AS DOUBLE) * {m} * {m}
                   / ((sum((CAST(1 AS BIGINT) << ({w_bits} + 1 - r))::HUGEINT)
                       + ({m} - count(*))::HUGEINT
                         * (CAST(1 AS BIGINT) << {w_bits + 1})::HUGEINT
                      )::DOUBLE / {scale!r})"""
    return f"""
  SELECT grp,
         CASE WHEN {raw}
                   <= 2.5 * {m}
                   AND {m} - count(*) > 0
              THEN CAST({m} AS DOUBLE)
                   * ln(CAST({m} AS DOUBLE) / ({m} - count(*)))
              ELSE {raw}
              END AS hll_estimate
  FROM {reg_cte} GROUP BY grp
"""


def cms_cells(
    df: DataFrame, key_col: str, d: int = 4, w: int = 2048
) -> DataFrame:
    """Count-Min sketch cells: (depth, bucket, n) — d independent
    md5-salted hash rows over a width-w bucket space.

    Build shape: explode each input row into d (depth, bucket) pairs
    map-side, then ONE aggregation over ≤ d·w cells — the shuffle
    carries the sketch, not the keys.  Cells are mergeable by addition
    across batches/partitions (plain sums)."""
    rows = []
    for i in range(d):
        b = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(key_col).cast("string"), F.lit(f":{i}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % w
        )
        rows.append(F.struct(F.lit(i).alias("depth"), b.alias("bucket")))
    return (
        df.select(F.explode(F.array(*rows)).alias("c"))
        .select("c.depth", "c.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    cells: DataFrame, candidates: DataFrame, key_col: str, d: int = 4, w: int = 2048
) -> DataFrame:
    """Point-estimate the CMS count for each candidate key: hash the
    candidate into its d cells and take the min — never under the true
    count (the CMS one-sided error bound).  Candidates are a bounded
    frame (heavy-hitter suspects, not the key space); the d-way lookup
    is a broadcast join against ≤ d·w cells."""
    ests = []
    for i in range(d):
        b = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(key_col).cast("string"), F.lit(f":{i}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % w
        )
        ests.append(
            F.struct(F.lit(i).alias("depth"), b.alias("bucket"))
        )
    cand = candidates.select(
        key_col, F.explode(F.array(*ests)).alias("c")
    ).select(key_col, "c.depth", "c.bucket")
    return (
        cand.join(F.broadcast(cells), ["depth", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))
    )


def cms_oracle_sql(key_expr: str, d: int = 4, w: int = 2048, src: str = "events") -> str:
    """DuckDB restatement of cms_cells + cms_estimate for every distinct
    key in ``src`` — same salted md5 bucket per depth, same min-over-d."""
    depth_rows = " UNION ALL ".join(f"SELECT {i} AS depth" for i in range(d))
    return f"""
cms_cells AS (
  SELECT dd.depth,
         ('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':' || dd.depth),
                         1, 8))::BIGINT % {w} AS bucket,
         count(*) AS n
  FROM {src} CROSS JOIN ({depth_rows}) dd
  GROUP BY 1, 2
),
cms_keys AS (
  SELECT DISTINCT {key_expr} AS k FROM {src}
),
cms_est AS (
  SELECT ck.k,
         min(coalesce(c.n, 0)) AS cms_estimate
  FROM cms_keys ck
  CROSS JOIN ({depth_rows}) dd
  LEFT JOIN cms_cells c
    ON c.depth = dd.depth
   AND c.bucket = ('0x' || substr(md5(CAST(ck.k AS VARCHAR) || ':'
                                      || dd.depth), 1, 8))::BIGINT % {w}
  GROUP BY 1
)"""


def kmins_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 1024,
) -> DataFrame:
    """Per-group MERGEABLE QUANTILE sketch — a k-mins sample frame
    (group…, idx, hh, v): rows are bucketed by the low bits of their
    row-key hash (idx = h mod k) and each bucket keeps the row whose
    REMAINING hash bits are smallest (hh = h div k), carrying its
    value.  The same stochastic-averaging layout HyperLogLog uses for
    rho, applied to value sampling: each bucket's min-hash row is a
    uniform draw from that bucket, and buckets split rows independently
    of value, so the ≤k kept values are a uniform row sample whose
    order statistics estimate quantiles with rank error O(1/√k)
    (Hoeffding: P(|rank err| > t) ≤ 2e^(−2kt²) — at k=1024, t=0.05
    that is ~1e−22; the KLL/GK compactor buys a tighter ε per byte but
    needs sequential compaction, which is neither order-free nor
    SQL-replayable — this sketch trades constant-factor size for an
    ORACLE-CHECKABLE, partition-order-invariant build).

    Build shape: ONE map-side-combinable aggregation
    (groupBy(group, idx).min(struct(hh, v))) — the shuffle carries ≤
    groups×k rows regardless of corpus size.  Merging sketches = min
    per bucket (:func:`kmins_merge`), EXACT like HLL's max-merge: the
    bucket minimum of a union is the min of the parts' minima — so
    per-batch/per-partition sketches union without re-reading rows,
    the production backend for equal-frequency bins at corpus scale
    (rfm_segments_approx / daily_percentiles' disclosed O(group)
    exact-percentile buffers).

    Determinism: h is the 60-bit md5 integer (engine-portable); ties
    on hh (md5 collisions, ~2⁻⁵⁰) break on v inside the struct-min.
    ``key_col`` should be a row-unique key (event id) so the sample is
    a row sample, not a distinct-value sample."""
    hashed = df.select(
        *group_cols,
        _h60(F.col(key_col)).alias("__h"),
        F.col(value_col).cast("double").alias("__v"),
    )
    return (
        hashed.select(
            *group_cols,
            (F.col("__h") % k).alias("idx"),
            F.struct(
                F.expr(f"__h DIV {k}").alias("hh"),
                F.col("__v").alias("v"),
            ).alias("s"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.min("s").alias("s"))
        .select(*group_cols, "idx", F.col("s.hh").alias("hh"), F.col("s.v").alias("v"))
    )


def kmins_merge(samples: DataFrame, out_group_cols: list[str]) -> DataFrame:
    """Merge k-mins sample frames across groups: min(struct(hh, v)) per
    bucket — exact (the union's bucket minimum is the min of the
    parts' minima), the quantile sibling of :func:`hll_merge`."""
    return (
        samples.select(
            *out_group_cols, "idx", F.struct("hh", "v").alias("s")
        )
        .groupBy(*out_group_cols, "idx")
        .agg(F.min("s").alias("s"))
        .select(
            *out_group_cols,
            "idx",
            F.col("s.hh").alias("hh"),
            F.col("s.v").alias("v"),
        )
    )


def kmins_quantiles(
    samples: DataFrame,
    group_cols: list[str],
    p_permilles: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """Fold a k-mins sample frame to nearest-rank quantile estimates →
    (group…, p_permille, q_est, m_sample).

    The order statistic runs over the ≤k-row sample per group (a
    window over the SKETCH, never the corpus).  The needed rank is
    pure integer arithmetic — ceil(p·m) as (p_permille·m + 999) DIV
    1000 — so no float multiply can straddle an integer boundary
    differently across engines."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy("v", "hh")
    ranked = samples.select(
        *group_cols,
        "hh",
        "v",
        F.row_number().over(w).alias("__rnk"),
        F.count(F.lit(1))
        .over(Window.partitionBy(*group_cols))
        .alias("__m"),
    )
    ps = F.explode(
        F.array(*[F.lit(p) for p in p_permilles])
    ).alias("p_permille")
    return (
        ranked.select(*group_cols, "v", "__rnk", "__m", ps)
        .filter(
            F.col("__rnk")
            == F.expr("(p_permille * __m + 999) DIV 1000")
        )
        .select(
            *group_cols,
            F.col("p_permille").cast("int").alias("p_permille"),
            F.col("v").alias("q_est"),
            F.col("__m").cast("bigint").alias("m_sample"),
        )
    )


def kmins_quantile_body_sql(
    sample_cte: str, p_permilles: tuple[int, ...] = (500, 900, 990)
) -> str:
    """The nearest-rank quantile SELECT over a sample CTE (grp, idx,
    hh, v) — split from the sample build so merged-sample CTEs can
    reuse the identical estimator text (the hll_estimate_body_sql
    pattern)."""
    plist = ", ".join(str(p) for p in p_permilles)
    return f"""
  SELECT grp, CAST(pp.p_permille AS INT) AS p_permille, s.v AS q_est,
         CAST(s.m AS BIGINT) AS m_sample
  FROM (
    SELECT grp, hh, v,
           row_number() OVER (PARTITION BY grp ORDER BY v, hh) AS rnk,
           count(*) OVER (PARTITION BY grp) AS m
    FROM {sample_cte}
  ) s
  CROSS JOIN (SELECT unnest([{plist}]) AS p_permille) pp
  WHERE s.rnk = (pp.p_permille * s.m + 999) // 1000
"""


def kmins_oracle_sql(
    key_expr: str,
    value_expr: str,
    k: int = 1024,
    src: str = "events",
    group_expr: str = "''",
    p_permilles: tuple[int, ...] = (500, 900, 990),
) -> str:
    """DuckDB CTE chain ``kmh``/``km``/``kq`` restating
    kmins_sample→kmins_quantiles — SAME md5 slice, SAME integer
    bucket split, SAME struct-min (stated as an argmin window: first
    row per bucket by (hh, v)), SAME integer nearest-rank."""
    return f"""
kmh AS (
  SELECT {group_expr} AS grp,
         h % {k} AS idx, h // {k} AS hh,
         CAST({value_expr} AS DOUBLE) AS v
  FROM (
    SELECT ('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT
             AS h, *
    FROM {src}
  )
),
km AS (
  SELECT grp, idx, hh, v FROM (
    SELECT *, row_number() OVER (PARTITION BY grp, idx
                                 ORDER BY hh, v) AS rn
    FROM kmh
  ) WHERE rn = 1
),
kq AS ({kmins_quantile_body_sql('km', p_permilles)})"""


def kmv_sketch(
    df: DataFrame, set_col: str, key_col: str, k: int = 1024
) -> DataFrame:
    """Per-set KMV / theta BOTTOM-k signature → (set_id, h): the k
    SMALLEST distinct 60-bit md5 hashes of each set's members (Beyer
    et al. 2007; DataSketches theta).  Hash VALUES are deduped
    (dense_rank + distinct over the ≤ S·k OUTPUT — never a
    corpus-sized shuffle), which makes the sketch idempotent under
    duplicate (set, key) rows AND puts two distinct keys colliding on
    the 60-bit hash in ONE slot — exactly as they would land after
    ``kmv_merge``'s dropDuplicates — so the
    bottom-k(dedup(bottom-k(A) ∪ bottom-k(B))) ≡ bottom-k(A ∪ B)
    merge identity is exact, not modulo-collision.

    The signature is union-MERGEABLE: per-ingest-batch sketches
    combine via ``kmv_merge`` (union + re-truncate) without touching
    the corpus again, and ship k BIGINTs per set.  Scale shape: one
    map-side hash pass + one per-set top-k window whose output is ≤
    S·k rows regardless of corpus size — the sketch property."""
    from pyspark.sql.window import Window

    uh = df.select(
        F.col(set_col).alias("set_id"), _h60(F.col(key_col)).alias("h")
    )
    w = Window.partitionBy("set_id").orderBy("h")
    return (
        uh.withColumn("__rn", F.dense_rank().over(w))
        .filter(F.col("__rn") <= k)
        .select("set_id", "h")
        .distinct()
    )


def kmv_merge(sketches: DataFrame, k: int = 1024) -> DataFrame:
    """Merge KMV signatures for the SAME logical set across batches:
    union the (set_id, h) frames, then re-truncate each set to its k
    smallest — the bottom-k of a union is the bottom-k of the union
    of bottom-k's, which is what makes per-batch sketching sound.
    Input is the unionByName of ``kmv_sketch`` outputs."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("set_id").orderBy("h")
    return (
        sketches.dropDuplicates(["set_id", "h"])
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("set_id", "h")
    )


def kmv_bucketed_minima(
    df: DataFrame, set_col: str, key_col: str, n_buckets: int = 65536
) -> DataFrame:
    """STREAMING-AGGREGABLE pre-reduction for KMV: one min hash per
    (set, h % n_buckets) bucket → (set_id, idx, h).  ``min`` is
    order-free AND idempotent under duplicates, so this runs as ONE
    plain running aggregation over a raw (set, key) stream — no
    distinct, no custom state — with state ≤ S·n_buckets BIGINT rows,
    bounded by sketch geometry, never by stream length or key
    cardinality (the HLL/CMS/k-mins streaming contract).

    The bottom-k of the minima approximates the true bottom-k: an
    element of the true bottom-k is lost only when a SMALLER hash of
    the same set shares its bucket — expected losses ≈ k²/(2·B)
    (birthday bound; 8 of 1024 at the default B = 64k, a sub-1%
    perturbation of the union sample, disclosed where used).  This is
    NOT the rejected one-permutation estimator (which compared k
    bucket minima directly and collapsed at occupancy ≪ 1, measured
    0.49 vs true 0.09): here bucketing only PRE-REDUCES the
    candidate pool and the estimator stays the union-sample
    membership test over the k smallest."""
    hashed = df.select(
        F.col(set_col).alias("set_id"), _h60(F.col(key_col)).alias("h")
    )
    return (
        hashed.withColumn("idx", F.col("h") % n_buckets)
        .groupBy("set_id", "idx")
        .agg(F.min("h").alias("h"))
    )


def kmv_overlap_from_sketch(
    sig: DataFrame, k: int = 1024, pairs: DataFrame | None = None
) -> DataFrame:
    """Pairwise overlap estimates from a PRE-BUILT (set_id, h)
    signature frame — the serving half of :func:`kmv_overlap`, split
    out so batch sketches, merged per-ingest sketches (kmv_merge),
    and streaming-drained bucketed minima all share one estimator.
    ``sig`` should be materialized (it feeds both sides of every
    pair) and hold ≤ k rows per set.  ``pairs`` (set_a, set_b with
    set_a < set_b) restricts estimation to a candidate pair frame —
    at large S pass :func:`kmv_candidate_pairs`' output so the plan
    is candidate-sized instead of S(S−1)/2."""
    from pyspark.sql.window import Window

    sig = sig.select("set_id", "h")
    if pairs is not None:
        pr = pairs.select("set_a", "set_b")
    else:
        sets = sig.select("set_id").distinct()
        pr = (
            sets.select(F.col("set_id").alias("set_a"))
            .crossJoin(sets.select(F.col("set_id").alias("set_b")))
            .filter(F.col("set_a") < F.col("set_b"))
        )
    pa = pr.join(
        sig.withColumnRenamed("set_id", "set_a"), "set_a"
    ).select("set_a", "set_b", "h", F.lit(1).alias("in_a"))
    pb = pr.join(
        sig.withColumnRenamed("set_id", "set_b"), "set_b"
    ).select("set_a", "set_b", "h", F.lit(1).alias("in_b"))
    u = pa.join(pb, ["set_a", "set_b", "h"], "full").select(
        "set_a",
        "set_b",
        "h",
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    w_p = Window.partitionBy("set_a", "set_b").orderBy("h")
    return (
        u.withColumn("__rn", F.row_number().over(w_p))
        .filter(F.col("__rn") <= k)
        .groupBy("set_a", "set_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_eff"),
            F.round(
                F.sum(F.col("in_a") * F.col("in_b")) / F.count(F.lit(1)),
                6,
            ).alias("j_est"),
            # raw membership counts over the union sample — the full
            # theta-sketch surface: consumers derive containment
            # (n_inter/n_a estimates |A∩B|/|A| — the asymmetric
            # "is A inside B" mirror-site question Jaccard can't
            # answer) and relative set sizes (n_a/n_b) from the same
            # k rows, no extra pass
            F.sum(F.col("in_a")).cast("bigint").alias("n_a"),
            F.sum(F.col("in_b")).cast("bigint").alias("n_b"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("bigint")
            .alias("n_inter"),
        )
    )


def kmv_overlap(
    df: DataFrame, set_col: str, key_col: str, k: int = 1024
) -> DataFrame:
    """ALL-PAIRS set-overlap estimation from KMV bottom-k sketches →
    (set_a, set_b, k_eff, j_est) for every unordered pair of sets in
    ``df`` — the production surface kmv_overlap_brands /
    kmv_overlap_sources (suite) wrap: for a pair, the k smallest
    hashes of the sketch UNION are a uniform sample of A∪B, and the
    fraction present in BOTH sketches estimates J(A,B) with
    σ = √(J(1−J)/k) — error scales with J itself, which is why this
    beats HLL inclusion–exclusion in the small-Jaccard regime (three
    ±1σ estimates differenced leave noise that can exceed a small
    signal).  Unbiased at every occupancy and EXACT when a set has
    ≤ k members (k_eff = |A∪B| then — the sketch is the whole set).

    The pair frame is built from sketch SIGNATURES only — S·k rows —
    never from the corpus: after the one ``kmv_sketch`` pass, every
    pairwise estimate among S sets costs pair-frame joins over
    ≤ 2k-row groups (the all-pairs |A∩B| corpus join this replaces at
    100 TB touches the corpus once PER PAIR; the suite queries keep
    that join as their in-frame exact AUDIT, dropped here).  S² pair
    fan-out is the caller's knob — sets are entities (brands, sources,
    cohorts, days), not corpus rows; at LARGE S generate candidates
    with :func:`kmv_candidate_pairs` and pass them via
    ``kmv_overlap_from_sketch(sig, k, pairs=...)``.  Input must be DISTINCT per
    (set, key), the ``kmv_sketch`` contract.  Oracle-replayable to
    the bit: integer bottom-k ranks, integer membership counts, one
    division rounded at 6dp."""
    sig = kmv_sketch(df, set_col, key_col, k=k).localCheckpoint(
        eager=True
    )  # feeds both sides of every pair
    return kmv_overlap_from_sketch(sig, k=k)


def kmv_min_shared(
    k: int, threshold_jaccard: float, retention: float = 0.99
) -> int:
    """Translate a target Jaccard ``t`` into the ``min_shared`` prune
    for :func:`kmv_candidate_pairs`, keeping J ≥ t pairs with
    probability ≥ ``retention`` (over the hash draw).

    Soundness: n_shared ≥ |bottom-k(A∪B) ∩ A∩B| — every union-bottom-k
    element of A∩B ranks ≤ k inside EACH set's own hash order too, so
    it lands in both sketches.  That count is hypergeometric over the
    union sample with mean k·J ≥ k·t and variance at most the
    binomial's, so the distribution-free Hoeffding tail
    P(X ≤ k·t − s) ≤ exp(−2s²/k) gives s = √(k·ln(1/δ)/2) at
    δ = 1 − retention:  min_shared = ⌊k·t − s⌋ (floored at 1).
    k = 1024, t = 0.1, retention 0.99 → 102.4 − 48.6 → 53.

    PRECONDITION — full sketches: this scalar bound assumes the union
    sample has k elements, i.e. |A∪B| ≥ k.  When a pair's union is
    smaller the sketch is EXACT and n_shared = |A∩B| = J·|A∪B|
    deterministically, which can sit BELOW ⌊k·t − s⌋ for a J ≥ t pair
    (|A∪B| = 400, J = 0.12 → n_shared = 48 < 53) — such pairs would
    be dropped with probability 1, not ≤ 1 − retention.  Pass ``k``
    as the pair's effective sample size (≥ max of the two sketch row
    counts) to get the clamped bound; :func:`kmv_candidate_pairs`
    does exactly that per-pair from the signature frame, so callers
    going through the operator need no precondition.  The clamp is
    sound for any true union sample size k_u ≥ k_eff: the threshold
    f(n) = n·t − √(n·ln(1/δ)/2) is increasing in n whenever it
    actually prunes (f(k_eff) > 1 ⇒ t·k_eff > s ⇒ f′ > 0 on
    [k_eff, ∞)), and the extra mean margin (k_u − k_eff)·t only
    tightens the tail."""
    import math

    delta = max(1.0 - retention, 1e-12)
    s = math.sqrt(k * math.log(1.0 / delta) / 2.0)
    return max(1, int(math.floor(k * threshold_jaccard - s)))


def kmv_candidate_pairs(
    sig: DataFrame,
    min_shared: int | None = None,
    *,
    threshold_jaccard: float | None = None,
    k: int = 1024,
    retention: float = 0.99,
) -> DataFrame:
    """CANDIDATE pair generation for large set counts S — the scale
    lever that replaces :func:`kmv_overlap_from_sketch`'s all-pairs
    S(S−1)/2 fan-out with an output-sized plan: self-join the
    signature frame on the HASH (the inverted-index move at the
    sketch level), count shared sampled hashes per pair, keep pairs
    with ≥ ``min_shared`` → (set_a, set_b, n_shared).

    Why shared-hash counting finds overlapping pairs: the hash is the
    same function in every sketch, so an element of A∩B occupies the
    SAME position in both sets' hash order — the j-th smallest of
    A∩B sits near rank j·|A|/|A∩B| in A and is sampled iff that rank
    ≤ k.  Hence E[n_shared] ≈ k·min(|A∩B|/|A|, |A∩B|/|B|) — k times
    the smaller CONTAINMENT, ≥ k·J — while a disjoint pair shares
    nothing (md5 collisions aside).

    The prune threshold is OPERATOR-owned: pass ``threshold_jaccard``
    (with the sketch ``k`` and a ``retention`` target) and the
    :func:`kmv_min_shared` Hoeffding-tail bound keeps J ≥ t pairs
    with probability ≥ retention — a caller can no longer pick a
    literal that silently drops qualifying pairs.  That holds at ANY
    occupancy because the bound is clamped PER-PAIR to the effective
    sample size k_eff = max(|sketch A|, |sketch B|) (a lower bound on
    the union sample |bottom-k(A∪B)|): an under-full pair's sketch
    is exact, n_shared = |A∩B| can legitimately sit below the
    full-sketch literal (⌊k·t − s⌋ = 53 at k = 1024/t = 0.1/99%,
    while |A∪B| = 400, J = 0.12 gives n_shared = 48), and the clamped
    threshold ⌊k_eff·t − √(k_eff·ln(1/δ)/2)⌋ retains it.  Soundness
    of clamping to a LOWER bound of the true sample size is proved in
    :func:`kmv_min_shared`'s docstring.  The per-pair thresholds come
    from one S-row set-size frame broadcast onto the candidate
    aggregate — no extra shuffle.  The raw ``min_shared`` override
    remains for callers that computed their own bound (exactly one of
    the two must be given) and is applied as a plain literal.

    Scale shape: one self-equi-join on h over S·k signature rows —
    per-hash fan-out is the number of SKETCHES containing that
    element (bounded by how shared the element actually is), so the
    join is candidate-sized, never S².  Feed the survivors to
    ``kmv_overlap_from_sketch(sig, k, pairs=...)`` for estimates."""
    if (min_shared is None) == (threshold_jaccard is None):
        raise ValueError(
            "pass exactly one of min_shared or threshold_jaccard"
        )
    a = sig.select(F.col("set_id").alias("set_a"), "h")
    b = sig.select(F.col("set_id").alias("set_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("set_a") < F.col("set_b"))
        .groupBy("set_a", "set_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    if threshold_jaccard is None:
        return cand.filter(F.col("n_shared") >= min_shared)
    # per-pair clamp: k_eff = max of the two sketch row counts is a
    # lower bound on the union sample size |bottom-k(A∪B)|, and the
    # Hoeffding threshold is increasing in the sample size whenever
    # it prunes (kmv_min_shared docstring) — so evaluating the bound
    # at k_eff keeps retention sound at any occupancy, including
    # exact (under-full) sketches where n_shared = |A∩B| < ⌊k·t − s⌋
    # is legitimate for a J ≥ t pair.  sizes is S rows → broadcast.
    import math

    delta = max(1.0 - retention, 1e-12)
    ln_inv_delta = math.log(1.0 / delta)
    sizes = sig.groupBy("set_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_rows")
    )
    k_eff = F.greatest(F.col("ka.k_rows"), F.col("kb.k_rows"))
    thresh = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor(
            k_eff * F.lit(float(threshold_jaccard))
            - F.sqrt(k_eff * F.lit(ln_inv_delta) / F.lit(2.0))
        ),
    )
    return (
        cand.join(
            F.broadcast(sizes).alias("ka"),
            cand["set_a"] == F.col("ka.set_id"),
        )
        .join(
            F.broadcast(sizes).alias("kb"),
            cand["set_b"] == F.col("kb.set_id"),
        )
        .filter(F.col("n_shared") >= thresh)
        .select("set_a", "set_b", "n_shared")
    )
