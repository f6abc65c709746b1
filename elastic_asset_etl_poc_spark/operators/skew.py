"""Skew mitigation: salted joins and skew diagnostics.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; the explicit forms here cover what AQE can't see: finding the hot
keys before a big join or aggregation, and broadcast-ineligible joins
against a skewed build side.

All salting is deterministic (hash of stable row attributes, not rand()),
so plans stay replayable and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    buckets: int = 8,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) left side, replicate
    the right side across the salt range.

    The hot key's rows land in ``buckets`` different shuffle partitions;
    the right side is duplicated ×buckets (explode over a literal range),
    which is the standard trade — only do this when the right side is
    modest and broadcast is off the table.  Columns keep their original
    names; join key must be equal-named on both sides.

    Only ``inner`` and ``left`` are supported: the right side is
    replicated ×buckets, so a right/outer join would emit every unmatched
    right row once per salt bucket.  The salt hashes stable row content
    (``salt_cols``, default all left columns) — per the module's
    determinism contract, routing is identical across retries and
    repartitionings (unlike ``monotonically_increasing_id``, which
    depends on partition layout).

    Determinism's trade: rows that are fully identical on ``salt_cols``
    share a salt bucket.  If the hot key's rows are EXACT duplicates
    (duplicated log lines), either aggregate them to (row, count) first
    or pass ``salt_cols`` including a distinguishing column (an event id).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): the "
            "replicated right side would duplicate unmatched right rows"
        )
    scols = salt_cols or left.columns
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in scols]), F.lit(buckets))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def skew_report(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Per-key distribution diagnostics — the planning step BEFORE a big
    join/agg on ``key_col``: find the hot keys that would pin a reducer
    and quantify how hot they are, so the pipeline can choose plain
    shuffle vs :func:`salted_join` vs a per-key cap.

    Returns the ``top_n`` heaviest keys as (key, n_rows, pct_of_total,
    hot_ratio, rank) where ``hot_ratio`` is n_rows over the mean rows
    per key — a hot_ratio ≫ shuffle-partition count means one task owns
    the key no matter how wide the cluster.

    Scale shape: one hash-agg on the key (map-side partials), a 1-row
    global agg broadcast back, and a ``TakeOrderedAndProject`` top-n on
    the per-key count frame — the rank window runs only over the
    ``top_n`` survivors, never a global no-partition window (a corpus
    with billions of distinct keys would serialize one).
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col("key").asc()).limit(top_n)
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("__total"), 4).alias(
                "pct_of_total"
            ),
            F.round(
                F.col("n_rows") * F.col("__n_keys") / F.col("__total"), 4
            ).alias("hot_ratio"),
            "rank",
        )
    )
