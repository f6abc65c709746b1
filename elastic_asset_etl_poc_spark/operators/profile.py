"""Data profiling: per-column statistics in one pass over the table.

The routine every large-scale ingest pipeline runs before trusting a new
drop: null counts, distinct cardinality, and min/max per column.  One
wide aggregate computes every column's stats in a single job, then the
result unpivots to one row per column — no per-column scans.

Scale posture: exact multi-column ``count(DISTINCT)`` plans through
Spark's Expand (input rows × #distinct-aggs feed ONE shuffle) — fine for
a profiling pass, but the row multiplication is real at 100 TB, where
``approx_count_distinct`` (HLL, map-side partials, no Expand) is the
replacement for the cardinality column.  min/max surface as strings so
one schema covers heterogeneous column types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile → (col_name, n_nonnull, n_distinct, min_s, max_s)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"__nn_{c}").alias("n_nonnull"),
                        F.col(f"__nd_{c}").alias("n_distinct"),
                        F.col(f"__mn_{c}").alias("min_s"),
                        F.col(f"__mx_{c}").alias("max_s"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")


def winsorize(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Robust outlier clamping (winsorization): clip ``value_col`` to the
    per-group ``[lo, hi]`` discrete percentiles — the standard defense
    before means/regressions on heavy-tailed metrics (crawl sizes, event
    values, token counts), where trimming would bias and dropping would
    lose rows.

    Percentile definition (replayed exactly by the SQL oracle): the
    value at 1-based rank ``ceil(q·n)`` in ascending order — classic
    ``percentile_disc``.  Ties need no tiebreak: equal values give the
    same rank-k value under any permutation.

    One window pass ranks values per group, a per-group aggregate picks
    the two rank-k values, and the tiny bounds frame broadcasts back —
    the rank window and the bounds agg share the same hash partitioning,
    so Catalyst reuses ONE exchange.  The per-group sort is the honest
    cost of exact percentiles.

    Adds ``{value_col}_w`` (clamped value), ``clamped_lo``/``clamped_hi``
    flags.  NULL values pass through unclamped with NULL flags.
    """
    from pyspark.sql.window import Window

    keys = list(keys or [])
    out_col = out_col or f"{value_col}_w"
    v = F.col(value_col)
    part = Window.partitionBy(*[F.col(k) for k in keys]) if keys else Window.partitionBy()
    w_rank = part.orderBy(v.asc())
    ranked = df.withColumn("__rn", F.row_number().over(w_rank)).withColumn(
        "__n", F.count(v).over(part)
    )
    # NULLs sort first in asc: shift ranks so rank 1 = smallest non-NULL
    n_null = F.count(F.when(v.isNull(), 1)).over(part)
    ranked = ranked.withColumn("__rn", F.col("__rn") - n_null)
    lo_rank = F.ceil(F.lit(lo) * F.col("__n"))
    hi_rank = F.ceil(F.lit(hi) * F.col("__n"))
    bounds = ranked.groupBy(*keys).agg(
        F.max(F.when(F.col("__rn") == lo_rank, v)).alias("__lo_v"),
        F.max(F.when(F.col("__rn") == hi_rank, v)).alias("__hi_v"),
    )
    base = ranked.drop("__rn", "__n")
    joined = (
        base.join(F.broadcast(bounds), keys, "left")
        if keys
        else base.crossJoin(F.broadcast(bounds))
    )
    clamped = F.least(F.greatest(v, F.col("__lo_v")), F.col("__hi_v"))
    return (
        joined.withColumn(out_col, F.when(v.isNotNull(), clamped))
        .withColumn("clamped_lo", F.when(v.isNotNull(), v < F.col("__lo_v")))
        .withColumn("clamped_hi", F.when(v.isNotNull(), v > F.col("__hi_v")))
        .drop("__lo_v", "__hi_v")
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Seasonal-baseline anomaly detection over an event stream →
    flagged ``(key, day, hour, n, z)`` cells.

    Counts events per (key, calendar day, hour-of-day), learns the
    per-(key, hour-of-day) baseline mean/stddev ACROSS days — the
    seasonal profile: 3am Tuesdays compare to other 3am's, not to noon —
    and flags cells with |count − mean| > z_threshold·stddev.  This
    catches what the rolling z-score (``rolling_zscore``, recency
    baseline) can't: a traffic level that is normal at peak but
    anomalous off-peak.

    The baseline is over OBSERVED cells only — an (hour, day) with zero
    events contributes no cell (gap-fill first with
    ``temporal.gap_fill`` when silence itself must be anomalous).

    Scale shape: two hash aggregates (cells, then baselines over cells —
    the second input is |keys|·24 rows) and one join of the baseline
    back onto cells.  The planner picks that join's strategy from the
    baseline's size (``autoBroadcastJoinThreshold``; AQE re-plans from
    the shuffled aggregates' real sizes): a low-cardinality type column
    broadcasts it, high-cardinality keys
    (per-user baselines: |keys|·24 no longer fits an executor) get a
    shuffle join on ``(key, hour)``.  No windows, no sort; both aggs
    take map-side partials.
    """
    cells = df.groupBy(
        F.col(key_col),
        F.to_date(ts_col).alias("day"),
        F.hour(ts_col).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = cells.groupBy(key_col, "hour").agg(
        F.avg("n").alias("__mu"),
        F.stddev_samp("n").alias("__sd"),
    )
    j = cells.join(baseline, [key_col, "hour"])
    z = (F.col("n") - F.col("__mu")) / F.col("__sd")
    return (
        j.filter(
            F.col("__sd").isNotNull()
            & (F.col("__sd") > 0)
            & (F.abs(z) > z_threshold)
        )
        .select(
            key_col,
            "day",
            "hour",
            "n",
            F.round(z, 4).alias("z"),
        )
    )


def theil_sen(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Theil-Sen robust trend estimator per group: slope = median over
    all point pairs (i<j) of (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = median of
    (yᵢ − slope·xᵢ).  Up to ~29% of the points can be arbitrary
    outliers without dragging the fit — the line-fitting sibling of the
    median/MAD outlier family (OLS has a 0% breakdown point: one bad
    day of telemetry bends the least-squares trend).

    Input is one row per (group, x) — typically a per-day aggregate the
    caller has already reduced — so the pairwise self-join is bounded by
    O(window-length²) per group, INDEPENDENT of corpus size: the corpus
    was collapsed before pairing.  Medians are Spark's exact
    interpolated ``percentile`` (the outlier_mad idiom — fine here
    because the per-group buffer is pairs-of-days, not corpus rows).
    """
    a = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("double").alias("x1"),
        F.col(y_col).cast("double").alias("y1"),
    )
    b = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("double").alias("x2"),
        F.col(y_col).cast("double").alias("y2"),
    )
    pairs = a.join(b, "g").filter(F.col("x1") < F.col("x2"))
    slopes = pairs.groupBy("g").agg(
        F.expr(
            "percentile((y2 - y1) / (x2 - x1), 0.5D)"
        ).alias("slope"),
        (F.count(F.lit(1))).alias("n_pairs"),
    )
    resid = (
        a.join(F.broadcast(slopes), "g")
        .groupBy("g")
        .agg(
            F.expr("percentile(y1 - slope * x1, 0.5D)").alias("intercept"),
            F.count(F.lit(1)).alias("n_points"),
            F.first("slope").alias("slope"),
            F.first("n_pairs").alias("n_pairs"),
        )
    )
    return resid.select(
        F.col("g").alias(group_col),
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        "slope",
        "intercept",
    )


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
) -> DataFrame:
    """Pareto frontier (SKYLINE) over two dimensions — rows where no
    other row is at-least-as-good on both and strictly better on one
    (minimize the first column, maximize the second): the
    "cheapest-for-its-size" selection every catalog/candidate-pruning
    surface needs.

    The naive formulation is an O(n²) dominance self-join; the 2-D
    structure collapses it to ONE aggregation + ONE bounded window:
    group to distinct (min_dim, max_dim) points carrying their
    duplicate count, reduce to the per-min_dim best max_dim (only the
    best at each price can survive), then a cumulative max over
    min_dim ascending — a point survives iff it strictly beats every
    cheaper point's best.  The window runs over DISTINCT min_dim
    values (bounded by the attribute's domain, not the corpus; at
    100 TB the per-value pre-aggregation has already collapsed the
    data).  Returns the surviving points with ``n_dup`` (how many
    corpus rows sit on each frontier point).
    """
    from pyspark.sql.window import Window

    pts = df.groupBy(
        F.col(minimize_col).alias("mn"), F.col(maximize_col).alias("mx")
    ).agg(F.count(F.lit(1)).alias("n_dup"))
    per_mn = pts.groupBy("mn").agg(F.max("mx").alias("best_mx"))
    w = Window.orderBy("mn").rowsBetween(Window.unboundedPreceding, -1)
    survivors = (
        per_mn.withColumn("prev_best", F.max("best_mx").over(w))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_mx") > F.col("prev_best"))
        )
        .select("mn", F.col("best_mx").alias("mx"))
    )
    return survivors.join(pts, ["mn", "mx"]).select(
        F.col("mn").alias(minimize_col),
        F.col("mx").alias(maximize_col),
        "n_dup",
    )
