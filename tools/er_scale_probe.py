#!/usr/bin/env python3
"""Incremental-ER scale probe: is the fold-in really corpus-independent?

The sf1 smoke can't test this — the ER fixture's ``part`` is a dimension
table, copied verbatim at sf1.  This probe grows the STANDING corpus
directly: N standing records pre-clustered into N/2 min-label pairs
(parquet in /tmp, read back like a real table), a FIXED batch of 1,000
new records with 2 delta edges each (the second edge merges two standing
clusters, so the quotient CC does real work), and times

  * fold      — ``entity_clusters_incremental`` (two broadcast probes
                past the assignments scan + quotient CC on ~3k nodes)
  * recompute — ``dedup_survivors`` over all N+1k records and all
                N/2 + 2k edges (past driver_limit this takes the
                distributed label-propagation path — the honest
                full-recompute cost the fold avoids)

and reports both at N = 1M and N = 8M.  The claim being certified:
fold cost ~ O(corpus scan) with a small constant (no shuffle of the
corpus, no per-record matching), while recompute carries the full CC;
the fold/recompute gap must WIDEN with N.

Usage::

    python3 tools/er_scale_probe.py [--runs 2] [--out SCALE_r10.md]

Appends a markdown section to --out.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/sparkgraft_er_probe"
BATCH = 1_000


def stage(spark, n: int) -> str:
    """Write (assignments, records, standing_edges, batch, delta) for N."""
    from pyspark.sql import functions as F

    root = f"{BASE}/n{n}"
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    ids = spark.range(n).select(F.col("id").alias("rid"))
    # min-label pair clustering: {2k, 2k+1} -> cluster 2k
    ids.select(
        "rid", (F.col("rid") - F.col("rid") % 2).alias("cluster")
    ).write.parquet(f"{root}/assignments")
    spark.range(n + BATCH).select(F.col("id").alias("rid")).write.parquet(
        f"{root}/records"
    )
    spark.range(n).filter(F.col("id") % 2 == 1).select(
        (F.col("id") - 1).alias("a"), F.col("id").alias("b")
    ).write.parquet(f"{root}/standing_edges")
    batch = spark.range(n, n + BATCH).select(F.col("id").alias("rid"))
    batch.write.parquet(f"{root}/batch")
    # 2 deterministic edges per new record, landing in different
    # standing clusters -> every batch record merges two clusters
    j = F.col("rid") - n
    batch.select(
        F.col("rid").alias("a"),
        ((j * 2654435761) % n).alias("b"),
    ).unionByName(
        batch.select(
            F.col("rid").alias("a"),
            ((j * 40503 + n // 2) % n).alias("b"),
        )
    ).write.parquet(f"{root}/delta")
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def probe(spark, n: int, runs: int) -> dict:
    from elastic_asset_etl_poc_spark.operators.linkage import (
        entity_clusters_incremental,
    )
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    root = stage(spark, n)
    rd = spark.read.parquet
    out: dict = {"n": n}

    best = None
    for _ in range(runs):
        t0 = time.time()
        entity_clusters_incremental(
            rd(f"{root}/assignments"),
            rd(f"{root}/batch"),
            rd(f"{root}/delta"),
            id_col="rid",
        ).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["fold_s"] = round(best, 2)

    best = None
    for _ in range(runs):
        t0 = time.time()
        entity_clusters_incremental(
            rd(f"{root}/assignments"),
            rd(f"{root}/batch"),
            rd(f"{root}/delta"),
            id_col="rid",
            emit="changed",
        ).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["fold_changed_s"] = round(best, 2)

    best = None
    for _ in range(runs):
        t0 = time.time()
        dedup_survivors(
            rd(f"{root}/records"),
            rd(f"{root}/standing_edges").unionByName(rd(f"{root}/delta")),
            id_col="rid",
        ).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["recompute_s"] = round(best, 2)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="SCALE_r10.md")
    ap.add_argument("--sizes", type=int, nargs="*", default=[1_000_000, 8_000_000])
    args = ap.parse_args()

    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(app_name="er_scale_probe")
    rows = [probe(spark, n, args.runs) for n in args.sizes]

    lines = [
        "",
        "## Incremental-ER corpus-independence probe "
        "(tools/er_scale_probe.py)",
        "",
        f"Fixed batch of {BATCH:,} new records (2 merge edges each) folded "
        "into a growing pre-clustered standing corpus; `fold` = "
        "entity_clusters_incremental, `recompute` = dedup_survivors over "
        "all records+edges (distributed CC past the 1M driver limit). "
        f"Best of {args.runs}.",
        "",
        "| standing N | fold (emit=all) s | fold (emit=changed) s "
        "| full recompute s | recompute/changed-fold |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        ratio = r["recompute_s"] / max(r["fold_changed_s"], 1e-9)
        lines.append(
            f"| {r['n']:,} | {r['fold_s']} | {r['fold_changed_s']} "
            f"| {r['recompute_s']} | {ratio:.1f}× |"
        )
    slope_fold = rows[-1]["fold_s"] / max(rows[0]["fold_s"], 1e-9)
    slope_chg = rows[-1]["fold_changed_s"] / max(
        rows[0]["fold_changed_s"], 1e-9
    )
    slope_rec = rows[-1]["recompute_s"] / max(rows[0]["recompute_s"], 1e-9)
    grow = rows[-1]["n"] / rows[0]["n"]
    lines += [
        "",
        f"Corpus ×{grow:.0f} → emit=all fold ×{slope_fold:.2f} (output "
        f"rewrite dominates), emit=changed fold ×{slope_chg:.2f} (one "
        f"filtering scan + tiny upsert write — the production shape), "
        f"recompute ×{slope_rec:.2f}. PASS = changed-fold slope < "
        "recompute slope and changed-fold stays seconds-class.",
        "",
    ]
    with open(args.out, "a") as fh:
        fh.write("\n".join(lines))
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
