"""Snapshot diff: keyed added/removed/changed between two frame versions.

The data-versioning primitive an ingest pipeline needs around its stores
(``sinks.upsert_assets``): diff yesterday's snapshot against
today's to drive incremental downstream work (re-embed only changed
docs, re-index only changed assets) instead of full recomputes.

Scale shape: each side collapses to ``(keys, 8-byte digest)`` BEFORE the
full-outer join, so the shuffle carries key+hash only — never the row
payload — and the join is one AQE-sized exchange (a 64-bit collision on
a key that actually changed is ~2⁻⁶⁴ per changed key).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["snapshot_diff", "apply_cdc", "incremental_rollup"]

#: field separator for the digest concat — U+001F unit separator, cannot
#: collide with printable column content
_SEP = "\x1f"
_NULL = "\x00∅"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Return ``(keys..., change)`` where change ∈ added | removed |
    changed; unchanged keys are filtered out before the result
    materializes.

    ``added`` = key only in ``new``; ``removed`` = only in ``old``;
    ``changed`` = present in both with any ``compare_cols`` value
    differing (null-safe: NULL→value and value→NULL both count as
    changed, NULL→NULL does not).
    """
    keys = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    compare_cols = list(compare_cols)

    def side(df: DataFrame, tag: str) -> DataFrame:
        fp = F.xxhash64(
            *(
                F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
                for c in compare_cols
            ),
            F.lit(_SEP),
        )
        return df.select(*keys, fp.alias(f"__fp_{tag}"))

    # presence is tracked explicitly so a frame whose digest is
    # NULL-ish can never be mistaken for an absent key
    o = side(old, "old").withColumn("__in_old", F.lit(True))
    n = side(new, "new").withColumn("__in_new", F.lit(True))
    j = o.join(n, keys, "full_outer")
    changed = ~F.col("__fp_old").eqNullSafe(F.col("__fp_new"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """MERGE a CDC change stream into a base snapshot → the new snapshot.

    ``changes`` rows carry the full record plus ``op_col`` ∈
    {'I','U','D'} and a monotone ``seq_col``; per key, the HIGHEST seq
    wins (classic CDC compaction — equal-seq ties, which a well-formed
    CDC stream should not contain, break on the xxhash64 digest of the
    full change row, so the pick is deterministic across runs, engines,
    and partitionings rather than partition-order-dependent), then:

    * winning op I/U → the change row's values replace/insert the record
    * winning op D   → the key disappears
    * key untouched by changes → the base row passes through

    This is ``snapshot_diff``'s inverse — diff derives changes from two
    snapshots, apply_cdc derives the next snapshot from changes — and
    together they are the incremental-recompute loop of a 100-TB ingest
    (reference `run.ts:12-15` leaves the write step "TBA"; this is the
    idempotent upsert it would need).

    Scale shape: the change stream (a daily batch, orders of magnitude
    smaller than the base) is compacted with ONE window shuffle on
    ``keys``; the base is never shuffled — superseded rows are removed
    with a broadcast anti-join on the compacted change KEYS and the
    surviving changes are unioned on.  Contract: the change keys must
    fit in a broadcast.  The hint is unconditional because the planner
    cannot see that they do — the compacted frame's size estimate is
    inflated by its lazy checkpoint — and no job runs before the join
    that could observe the key count.
    """
    from pyspark.sql.window import Window

    missing = [c for c in base.columns if c not in changes.columns]
    if missing:
        raise ValueError(
            "changes must carry every base column (plus op/seq); missing: "
            f"{missing} — project the change stream to the base schema "
            "first (partial-column updates need a read-modify-write, not "
            "a blind MERGE)"
        )
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        # deterministic tiebreak for (key, seq) collisions: digest of the
        # whole change row, not partition arrival order
        F.xxhash64(*[F.col(c).cast("string") for c in changes.columns]).desc(),
    )
    # latest feeds TWO consumers (the touched-key anti-join and the
    # upsert union); it is change-batch-sized by contract, so one lazy
    # materialization beats re-running the change derivation + window
    # per consumer
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=False)
    )
    value_cols = [c for c in base.columns]
    touched = F.broadcast(latest.select(*keys))
    untouched = base.join(touched, list(keys), "left_anti")
    upserts = latest.filter(F.col(op_col) != "D").select(*value_cols)
    return untouched.unionByName(upserts)


def incremental_rollup(
    new_base: DataFrame,
    old_rollup: DataFrame,
    touched_keys: DataFrame,
    keys: Sequence[str],
    agg_col: str,
) -> DataFrame:
    """Maintain a ``(keys..., n_rows, total)`` rollup incrementally:
    groups NOT in ``touched_keys`` pass through from ``old_rollup``
    untouched; touched groups recompute from ``new_base`` alone.  The
    third leg of the incremental-recompute loop — ``snapshot_diff``
    finds what moved, ``apply_cdc`` folds it into the row store, and
    this folds it into the AGGREGATE store (the maintained daily/group
    rollups every serving layer keeps) without rescanning history.

    Correctness contract: ``touched_keys`` must cover every group whose
    membership or values changed (project ``snapshot_diff``'s output
    onto the group keys); then the result is row-identical to a full
    ``new_base.groupBy(keys)`` recompute — the identity the suite query
    hash-checks.  Groups that vanished entirely disappear (recompute
    yields no row); brand-new groups appear.

    Scale shape: the touched-key set is diff-sized and broadcast — the
    old rollup is pruned with a map-side anti-join and ``new_base`` with
    a map-side semi-join, so the only aggregation shuffle is over the
    touched slice, not history.  On a base partitioned/bucketed by the
    group keys the semi-join prunes at the scan.  Contract: the touched
    keys must fit in a broadcast.  The hint is unconditional because
    the planner cannot see that they do — a join-built key frame's
    size estimate is inflated — and no job runs before the joins that
    could observe the key count.
    """
    tb = F.broadcast(touched_keys.select(*keys).distinct())
    untouched = old_rollup.join(tb, list(keys), "left_anti")
    recomputed = (
        new_base.join(tb, list(keys), "left_semi")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(agg_col).alias("total"),
        )
    )
    return untouched.unionByName(recomputed)
