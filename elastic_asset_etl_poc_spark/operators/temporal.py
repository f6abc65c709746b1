"""Temporal operators Spark lacks natively: as-of join, band join,
gap-filled rollup.

``asof_join(left, right)`` enriches every left row with the most recent
right row at-or-before its timestamp, per key — the canonical "attach the
latest known state" operator (market data, feature stores, signal
enrichment).  ``direction='forward'|'nearest'`` and ``tolerance_seconds``
round out the pandas ``merge_asof`` surface.

Spark-first formulation (composition of built-ins, no custom physical
operator): tag and union both sides, then one window pass per key ordered
by (ts, right-before-left-on-ties); ``last(payload, ignorenulls=True)``
over an unbounded-preceding frame carries the latest right payload
forward onto each left row.

Scale posture: ONE shuffle on the key (the window exchange) — same cost
as a regular join of the two inputs, regardless of how many right rows
precede each left row.  The naive alternative (inequality join + top-1)
is a partial cross product; this union-window form never materializes
pairs.  Skewed keys hit the window sort: AQE skew handling plus a
two-level (salt by time-bucket, then merge) split if a single key's
history outgrows a partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _us(c: Column) -> Column:
    """Microsecond epoch of a timestamp column.

    ``unix_micros`` rejects TIMESTAMP_NTZ in Spark 4
    (DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE); the fixtures' parquet
    timestamps load as NTZ.  The session timezone is pinned UTC
    (session.py), so ``cast("timestamp")`` maps NTZ wall-clock values
    onto the UTC epoch deterministically, and is a no-op for columns
    that are already TIMESTAMP.
    """
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: list[str] | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join with the pandas ``merge_asof`` surface.

    ``direction``:
      * ``backward`` (default) — latest right row with ``rts <= lts``;
      * ``forward`` — earliest right row with ``rts >= lts``;
      * ``nearest`` — whichever of the two is closer in time (ties and
        equal distances prefer backward).
    ``tolerance_seconds`` — a match farther than this from the left
    timestamp is nulled out.  Like pandas ``merge_asof``, with
    ``direction='nearest'`` the tolerance applies to EACH side before the
    nearer survivor is picked, so an out-of-tolerance backward match
    never shadows an in-tolerance forward one (or vice versa); for
    backward/forward there is a single candidate and the filter is
    equivalent either way.

    Returns all left columns plus ``{payload}{suffix}`` columns (NULL
    when nothing matches).  The matched right row is carried as ONE
    struct (timestamp + payloads), so a right row whose payload value is
    itself NULL yields NULL — it never falls through to an older row,
    and all payload columns always come from the same matched row.

    Plan shape: one shuffle on the key (the window exchange); ``nearest``
    adds a second window sort over the same exchange, never a second
    shuffle.  Time math runs on microsecond epochs (``unix_micros``).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward'|'forward'|'nearest', got {direction!r}"
        )
    payload = payload or [c for c in right.columns if c not in (on, right_ts)]

    lcols = left.columns
    ldt = dict(left.dtypes)
    rdt = dict(right.dtypes)
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_left", F.lit(1))
    for p in payload:
        l = l.withColumn(f"__p_{p}", F.lit(None).cast(rdt[p]))
    r = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__ts"),
            *[F.col(p).alias(f"__p_{p}") for p in payload],
        )
        .withColumn("__is_left", F.lit(0))
    )
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(ldt[c]))
    cols = [*lcols, "__ts", "__is_left", *[f"__p_{p}" for p in payload]]
    u = l.select(*cols).unionByName(r.select(*cols))

    # the matched right row travels as one atomic packet
    pkt = F.when(
        F.col("__is_left") == 0,
        F.struct(
            F.col("__ts").alias("__mts"),
            *[F.col(f"__p_{p}").alias(p) for p in payload],
        ),
    )
    # backward: right rows sort BEFORE left on timestamp ties, so
    # "at-or-before" includes same-instant state; forward mirrors that.
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sel: list = [*lcols, "__ts", "__is_left"]
    if direction in ("backward", "nearest"):
        sel.append(F.last(pkt, ignorenulls=True).over(wb).alias("__pb"))
    if direction in ("forward", "nearest"):
        sel.append(F.first(pkt, ignorenulls=True).over(wf).alias("__pf"))
    u = u.select(*sel).filter(F.col("__is_left") == 1)

    tol_us = (
        int(tolerance_seconds * 1_000_000) if tolerance_seconds is not None else None
    )
    if direction == "backward":
        m = F.col("__pb")
    elif direction == "forward":
        m = F.col("__pf")
    else:
        pb, pf = F.col("__pb"), F.col("__pf")
        db = _us(F.col("__ts")) - _us(pb.getField("__mts"))
        df_ = _us(pf.getField("__mts")) - _us(F.col("__ts"))
        if tol_us is not None:
            # Filter EACH side by tolerance before picking the nearer
            # survivor, mirroring pandas merge_asof's structure.  (Since
            # both distances are non-negative, this is equivalent to
            # filtering after the pick — if the nearer candidate exceeds
            # tolerance the farther one does too — but the per-side form
            # keeps the differential test against merge_asof one-to-one.)
            pb = F.when(pb.isNotNull() & (db <= tol_us), pb)
            pf = F.when(pf.isNotNull() & (df_ <= tol_us), pf)
        m = (
            F.when(pb.isNull(), pf)
            .when(pf.isNull(), pb)
            .when(db <= df_, pb)
            .otherwise(pf)
        )
    if tol_us is not None and direction != "nearest":
        delta = F.abs(
            _us(F.col("__ts")) - _us(m.getField("__mts"))
        )
        m = F.when(m.isNotNull() & (delta <= tol_us), m)
    u = u.withColumn("__m", m)
    return u.select(
        *lcols,
        *[F.col("__m").getField(p).alias(f"{p}{suffix}") for p in payload],
    )


def rollup_gapfill(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    bucket: str = "hour",
    aggs: dict[str, F.Column] | None = None,
    locf: list[str] | None = None,
) -> DataFrame:
    """Hypertable-style time rollup with dense gap-fill and LOCF.

    Buckets ``df`` to ``date_trunc(bucket, ts)`` per ``key``, aggregates,
    then left-joins the rollup onto a dense (key × bucket) scaffold built
    from ``sequence(min_bucket, max_bucket, 1 <bucket>)`` so silent gaps
    become explicit rows (``n_events`` 0, aggregate columns NULL).
    Columns named in ``locf`` additionally get a ``{col}_locf`` twin that
    carries the last observed value forward (``last(..., ignorenulls)``
    over an unbounded-preceding frame) — the "last known reading"
    semantics of a TimescaleDB ``time_bucket_gapfill`` + ``locf``.

    Scale posture: the heavy input collapses in ONE map-side-combined
    aggregate shuffle; the scaffold is |keys| × |buckets| rows (tiny —
    broadcast side of the left join), and the LOCF window re-uses the
    (key)-partitioned exchange.  Nothing here scales with raw row count
    except the initial rollup.
    """
    aggs = aggs or {"n_events": F.count("*")}
    b = F.date_trunc(bucket, F.col(ts)).alias("bucket_ts")
    rolled = df.groupBy(F.col(key), b).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    bounds = df.agg(
        F.date_trunc(bucket, F.min(ts)).alias("__lo"),
        F.date_trunc(bucket, F.max(ts)).alias("__hi"),
    )
    scaffold = (
        df.select(key)
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            key,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL 1 {bucket}"))
            ).alias("bucket_ts"),
        )
    )
    out = scaffold.join(rolled, [key, "bucket_ts"], "left")
    if "n_events" in aggs:
        out = out.withColumn("n_events", F.coalesce("n_events", F.lit(0)))
    w = (
        Window.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in locf or []:
        out = out.withColumn(f"{c}_locf", F.last(c, ignorenulls=True).over(w))
    return out


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    on: str,
    bucket_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: list[str] | None = None,
    suffix: str = "_asof",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join with time-bucket salting — the skew lever for
    :func:`asof_join` when ONE key's history outgrows an executor
    partition (the plain operator windows over (key), so a hot key is a
    single sort task no matter how many executors exist).

    Two-level plan (the docstring promise in :func:`asof_join` made
    real):

    1. **local pass** — window over (key, time-bucket): each bucket
       carries its own rights forward onto its lefts; partition size is
       bounded by bucket width, not key history.
    2. **carry pass** — per (key, bucket), take the bucket's LAST right
       packet (``max_by``), then a window over the tiny (key × bucket)
       frame carries the latest packet from any EARLIER bucket; a join
       on (key, bucket) hands it to lefts whose own bucket had no
       preceding right.

    Equivalent to ``asof_join(direction='backward')`` for every input
    (differential-tested), at the cost of one extra bounded shuffle —
    the right trade once a key's history no longer fits one task.
    ``bucket_seconds`` tunes the bound: pick history_span / parallelism.
    """
    payload = payload or [c for c in right.columns if c not in (on, right_ts)]
    bucket_us = bucket_seconds * 1_000_000

    lcols = left.columns
    ldt = dict(left.dtypes)
    rdt = dict(right.dtypes)
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_left", F.lit(1))
    for p in payload:
        l = l.withColumn(f"__p_{p}", F.lit(None).cast(rdt[p]))
    r = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__ts"),
            *[F.col(p).alias(f"__p_{p}") for p in payload],
        )
        .withColumn("__is_left", F.lit(0))
    )
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(ldt[c]))
    cols = [*lcols, "__ts", "__is_left", *[f"__p_{p}" for p in payload]]
    u = (
        l.select(*cols)
        .unionByName(r.select(*cols))
        .withColumn("__b", F.floor(_us(F.col("__ts")) / bucket_us))
    )
    pkt = F.when(
        F.col("__is_left") == 0,
        F.struct(
            F.col("__ts").alias("__mts"),
            *[F.col(f"__p_{p}").alias(p) for p in payload],
        ),
    )
    wb = (
        Window.partitionBy(on, "__b")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.select(
        *lcols, "__ts", "__is_left", "__b", pkt.alias("__pkt")
    ).withColumn("__pb_local", F.last("__pkt", ignorenulls=True).over(wb))

    # per-(key, bucket) last right packet; ties on __ts keep the max __mts
    # packet which is identical for equal timestamps in the backward frame
    lastr = (
        u.filter(F.col("__is_left") == 0)
        .groupBy(F.col(on), F.col("__b"))
        .agg(F.max_by("__pkt", F.col("__ts")).alias("__last_r"))
    )
    # the carry frame must cover EVERY populated (key, bucket) — a bucket
    # holding only lefts still needs the packet carried from earlier
    # buckets, so scaffold with the distinct pairs before the window
    kb = u.select(F.col(on), F.col("__b")).distinct()
    wc = (
        Window.partitionBy(on)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        kb.join(lastr, [on, "__b"], "left")
        .select(
            F.col(on),
            F.col("__b"),
            F.last("__last_r", ignorenulls=True).over(wc).alias("__carried"),
        )
    )
    out = (
        u.filter(F.col("__is_left") == 1)
        .join(carry, [on, "__b"], "left")
        .withColumn("__m", F.coalesce(F.col("__pb_local"), F.col("__carried")))
    )
    if tolerance_seconds is not None:
        tol_us = int(tolerance_seconds * 1_000_000)
        delta = F.abs(_us(F.col("__ts")) - _us(F.col("__m").getField("__mts")))
        out = out.withColumn(
            "__m", F.when(F.col("__m").isNotNull() & (delta <= tol_us), F.col("__m"))
        )
    return out.select(
        *lcols,
        *[F.col("__m").getField(p).alias(f"{p}{suffix}") for p in payload],
    )


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Build SCD-type-2 dimension history from a change log →
    (key, value, valid_from, valid_to), ``valid_to`` NULL for the open row.

    Consecutive equal attribute values collapse into one validity
    interval (gaps-and-islands): a change flag via ``lag`` marks island
    starts, a running sum numbers islands, one aggregate takes each
    island's start, and ``lead`` closes it with the next island's start.
    This is the CDC-events → slowly-changing-dimension reconstruction
    every warehouse ingest needs; the continuous form feeds micro-batches
    through the same shape from a ``foreachBatch`` sink.

    Scale posture: both windows and the aggregate share ONE exchange on
    ``key`` — the plan is shuffle-once regardless of history length; no
    global sort, no driver materialization.  ``tiebreak`` makes same-
    timestamp ordering deterministic (give the CDC sequence number).
    """
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(attr)).over(w)
    # null-safe change detection (IS DISTINCT FROM semantics, matching
    # the SQL oracle): a NULL attribute value opens a new island when it
    # follows a non-NULL value and continues the island when it follows
    # NULL — plain `!=` is NULL (falsy) whenever either side is NULL,
    # which would never open an island on a NULL value.  First row per
    # key: lag is NULL, so ~eqNullSafe is true for non-NULL values (new
    # island) and the all-NULL leading run lands in island 0 — a group
    # id is a group id.
    chg = F.when(~prev.eqNullSafe(F.col(attr)), 1).otherwise(0)
    island = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        df.select(F.col(key), F.col(attr), F.col(ts), *( [F.col(tiebreak)] if tiebreak else []))
        .withColumn("__island", island)
        .groupBy(key, "__island", attr)
        .agg(F.min(ts).alias("valid_from"))
    )
    w2 = Window.partitionBy(key).orderBy("valid_from")
    return islands.select(
        F.col(key),
        F.col(attr).alias("value"),
        F.col("valid_from"),
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    band_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Band (range) join: pairs with ``|left.ts − right.ts| ≤ band``
    sharing a key.

    Scale-safe formulation: bucket both sides to band-width epochs and
    equi-join on (key, bucket) with each left row probing its bucket and
    both neighbors — any qualifying pair shares one of those three
    buckets, so the exact band predicate only filters a bounded candidate
    set.  A naive theta-join ``ON |l−r| ≤ band`` degenerates to a per-key
    cross product; this stays an equi-join shuffle.

    Returns all left+right columns (right's key/ts suffixed ``_r``).

    The band predicate evaluates on microsecond-precision epochs
    (``unix_micros``), so sub-second timestamps compare exactly —
    ``unix_timestamp`` would truncate to whole seconds and admit pairs up
    to ~1s outside the band.  Buckets are sized in the same unit.
    """
    band_us = band_seconds * 1_000_000
    lb = F.floor(_us(F.col(left_ts)) / band_us)
    l = left.withColumn(
        "__b", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    r = (
        right.withColumnRenamed(right_ts, f"{right_ts}_r")
        .withColumn("__b", F.floor(_us(F.col(f"{right_ts}_r")) / band_us))
        .withColumnRenamed(on, f"{on}_r")
    )
    joined = l.join(
        r, (l["__b"] == r["__b"]) & (l[on] == r[f"{on}_r"]), "inner"
    ).drop("__b")
    band = F.abs(
        _us(F.col(left_ts)) - _us(F.col(f"{right_ts}_r"))
    ) <= band_us
    return joined.filter(band).drop(f"{on}_r")


def rolling_ewma(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    order_by: list[str],
    alpha: float = 0.5,
    k: int = 5,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average over the last ``k``
    observations per key — the feature-engineering smoother (trend
    signals, rate baselines) in its bounded-memory form.

    ``y_i = Σ_{j<k} α(1−α)^j · v_{i−j} / Σ_{j<k, v_{i−j} exists} α(1−α)^j``
    — the infinite recursive EWMA truncated at k lags and renormalized
    over the lags that exist, so early rows (fewer than k predecessors)
    are unbiased rather than damped toward zero.

    Implementation is an unrolled ``lag`` chain over ONE window pass
    (one shuffle on the keys, no self-joins, no UDF); the truncation is
    what makes the operator exactly SQL-replayable — a recursive
    formulation would need per-row state.  Weights α(1−α)^j with
    α = m/2^p are exact doubles, so Spark and the oracle agree
    bit-for-bit.  A NULL current value yields a NULL ewma (propagated,
    not skipped); NULL *lag* values are skipped and renormalized.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    v = F.col(value_col)
    num = F.lit(alpha) * v
    den = F.lit(alpha)
    for j in range(1, k):
        wt = alpha * (1 - alpha) ** j
        lj = F.lag(v, j).over(w)
        num = num + F.when(lj.isNull(), F.lit(0.0)).otherwise(F.lit(wt) * lj)
        den = den + F.when(lj.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    return df.withColumn(out_col, num / den)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    bucket_seconds: int,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
) -> DataFrame:
    """Interval-overlap join: pairs whose ``[start, end]`` intervals
    intersect (closed ends) while sharing a key — the interval×interval
    generalization of :func:`band_join`'s point-in-band.

    Scale-safe formulation: both sides explode onto the fixed-width
    epoch buckets their interval covers and equi-join on
    ``(key, bucket)``; overlapping intervals necessarily share their
    FIRST common bucket ``max(floor(l.start/w), floor(r.start/w))``, and
    emitting a pair only from that bucket makes the output exact with
    no ``distinct`` pass.  A naive theta-join
    ``ON l.start <= r.end AND r.start <= l.end`` is a per-key cross
    product; this stays one equi-join shuffle with fan-out bounded by
    ``interval_length / bucket_seconds`` per row — pick
    ``bucket_seconds`` near the median interval length (fan-out ~2).

    The overlap predicate evaluates on microsecond epochs (sub-second
    exact, same rationale as band_join).  Right columns come back
    suffixed ``_r``; rows with ``end < start`` are dropped as malformed.
    """
    w_us = bucket_seconds * 1_000_000

    def covered(s: Column, e: Column) -> Column:
        return F.sequence(F.floor(s / w_us), F.floor(e / w_us))

    ls, le = _us(F.col(left_start)), _us(F.col(left_end))
    l = left.filter(le >= ls).withColumn("__b", F.explode(covered(ls, le)))
    r = right.filter(_us(F.col(right_end)) >= _us(F.col(right_start)))
    for c in right.columns:
        r = r.withColumnRenamed(c, f"{c}_r")
    rs, re = _us(F.col(f"{right_start}_r")), _us(F.col(f"{right_end}_r"))
    r = r.withColumn("__b", F.explode(covered(rs, re)))
    joined = l.join(
        r, (l["__b"] == r["__b"]) & (l[on] == r[f"{on}_r"]), "inner"
    )
    overlap = (ls <= re) & (rs <= le)
    first_common = l["__b"] == F.greatest(
        F.floor(ls / w_us), F.floor(rs / w_us)
    )
    return joined.filter(overlap & first_common).drop("__b", f"{on}_r")


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-step funnel analysis → one row per step:
    (step_idx, step, n_users, pct) where ``n_users`` counts users whose
    events contain the step prefix IN STRICT TIME ORDER (each step
    strictly after the previous one) and ``pct`` is conversion relative
    to step 1.

    Spark-first shape — ONE shuffle total: events are filtered to the
    step types (map-side, pushed to the scan), grouped per user into a
    time-sorted array, and the funnel state machine runs as an
    ``F.aggregate`` fold over that array — a JVM-side lambda (HOFs are
    CodegenFallback, so the stage is interpreted — still no Python), not a
    Python UDF and not k sequential self-joins (the classic SQL funnel
    pays k−1 extra shuffles; the fold pays zero).  Per-user state is two
    fields (stage, last_ts): memory is bounded by events-per-user for
    the array, the usual behavioral-analytics envelope; a user with
    pathological event counts caps at the executor array limit, not the
    shuffle.
    """
    if not steps:
        raise ValueError("steps must not be empty")
    k = len(steps)
    step_arr = F.array(*[F.lit(s) for s in steps])
    ev = df.filter(F.col(type_col).isin(list(steps))).select(
        F.col(user_col).alias("user"),
        _us(F.col(ts_col)).alias("__us"),
        F.col(type_col).alias("__et"),
    )
    per_user = ev.groupBy("user").agg(
        F.array_sort(F.collect_list(F.struct("__us", "__et"))).alias("__evs")
    )
    LOW = -(2**62)

    def fold_step(acc, x):
        advance = (
            (acc["stage"] < F.lit(k))
            & (x["__et"] == F.element_at(step_arr, acc["stage"] + 1))
            & (x["__us"] > acc["last"])
        )
        return F.struct(
            F.when(advance, acc["stage"] + 1).otherwise(acc["stage"]).alias("stage"),
            F.when(advance, x["__us"]).otherwise(acc["last"]).alias("last"),
        )

    init = F.struct(
        F.lit(0).alias("stage"), F.lit(LOW).cast("long").alias("last")
    )
    stages = per_user.select(
        F.aggregate(F.col("__evs"), init, fold_step)["stage"].alias("stage")
    )
    counts = stages.agg(
        *[
            F.sum((F.col("stage") >= i).cast("long")).alias(f"__s{i}")
            for i in range(1, k + 1)
        ]
    )
    # 100.0 is a DECIMAL literal in Spark SQL — double-ify explicitly or
    # pct comes out DECIMAL(…) and engine comparisons format-drift.
    # Guard the empty funnel: an empty corpus aggregates counts to NULL
    # and zero step-1 entrants would divide by zero under ANSI — both
    # normalize to n_users=0, pct=0.0
    triples = ", ".join(
        f"{i}, '{s}', coalesce(__s{i}, 0), "
        f"CASE WHEN coalesce(__s1, 0) = 0 THEN CAST(0.0 AS DOUBLE) "
        f"ELSE round(coalesce(__s{i}, 0) * CAST(100.0 AS DOUBLE) / __s1, 2) END"
        for i, s in enumerate(steps, 1)
    )
    return counts.selectExpr(
        f"stack({k}, {triples}) AS (step_idx, step, n_users, pct)"
    )


def holt_linear(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 3,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per group — level +
    trend state folded through the series, one-step-ahead SSE, and an
    h-step forecast.  The recurrence (l' = αy + (1−α)(l+b);
    b' = β(l'−l) + (1−β)b) is inherently sequential, which usually
    pushes engines to a Python loop; here it runs as a JVM-side
    ``F.aggregate`` fold over the group's collected (x, y) array —
    JVM-side arithmetic (interpreted: HOFs are CodegenFallback), no
    UDF, no window recursion.

    Input is one row per (group, x), the already-aggregated series;
    state initializes from the first two points (l₀ = y₂,
    b₀ = y₂ − y₁ — level AT the second point, so a perfectly linear
    series yields zero one-step error) and folds from the third on.  Requires ≥ 2 points
    per group (fewer are filtered out).  Squared errors are computed as
    d·d, never pow(d, 2) — Java Math.pow and C pow can differ in the
    last ulp, and the oracle replays this exact operand order.

    Scale shape: ONE shuffle collapses the corpus to per-group series;
    the fold is O(series length) per group inside the agg projection.
    The collected array is the series, not the corpus — days, not rows
    (a group's series must fit in one array, the same contract as every
    windowed-forecast formulation).
    """
    oma, omb = 1.0 - alpha, 1.0 - beta
    g = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(x_col).cast("double").alias("x"),
                        F.col(y_col).cast("double").alias("y"),
                    )
                )
            ).alias("arr")
        )
        .filter(F.size("arr") >= 2)
    )
    init = F.struct(
        F.element_at("arr", 2)["y"].alias("l"),
        (F.element_at("arr", 2)["y"] - F.element_at("arr", 1)["y"]).alias(
            "b"
        ),
        F.lit(0.0).alias("sse"),
    )

    def step(acc, e):
        pred = acc["l"] + acc["b"]
        l2 = F.lit(alpha) * e["y"] + F.lit(oma) * pred
        b2 = F.lit(beta) * (l2 - acc["l"]) + F.lit(omb) * acc["b"]
        d = e["y"] - pred
        return F.struct(
            l2.alias("l"), b2.alias("b"), (acc["sse"] + d * d).alias("sse")
        )

    st = g.select(
        "g",
        F.size("arr").cast("bigint").alias("n_points"),
        F.aggregate(
            F.slice("arr", 3, F.greatest(F.size("arr") - 2, F.lit(0))),
            init,
            step,
        ).alias("st"),
    )
    fcols = [
        (F.col("st")["l"] + F.lit(float(h)) * F.col("st")["b"]).alias(
            f"forecast_{h}"
        )
        for h in range(1, horizon + 1)
    ]
    return st.select(
        F.col("g").alias(group_col),
        "n_points",
        F.col("st")["l"].alias("level"),
        F.col("st")["b"].alias("trend"),
        F.col("st")["sse"].alias("sse"),
        *fcols,
    )
