"""Sinks (reference S7-S9).

  * S7 DDL/index template (lib/assets_index_template.ts) → schema
    enforcement on write: align to SIMPLE_ASSET_SCHEMA, cap keywords.
  * S8 bulk sink (lib/es_client.ts:29-31; unused — write step "TBA",
    run.ts:12-15) → ``upsert_assets``: a keyed upsert into a parquet
    store partitioned by ``asset.type``.
  * S9 stdout sink (run.ts:18-19 JSON.stringify) → ``toJSON`` lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import ASSET_COLUMNS, KEYWORD_MAX_LEN, SIMPLE_ASSET_SCHEMA


def _asset_schema_expr(name: str, sql_type: str) -> str:
    c = f"CAST(`{name}` AS {sql_type})"
    if sql_type == "string":
        c = f"substring({c}, 1, {KEYWORD_MAX_LEN})"
    elif sql_type == "array<string>":
        c = f"transform({c}, x -> substring(x, 1, {KEYWORD_MAX_LEN}))"
    return f"{c} AS `{name}`"


#: ``selectExpr`` strings of :func:`enforce_asset_schema`: one JVM call
#: per batch (a Column-built select costs ~600 py4j round trips).
_ASSET_SCHEMA_EXPRS = [
    _asset_schema_expr(f.name, f.dataType.simpleString())
    for f in SIMPLE_ASSET_SCHEMA.fields
]


def enforce_asset_schema(df: DataFrame) -> DataFrame:
    """S7: fixed output schema + the dynamic template's 1024-char keyword
    cap (lib/assets_index_template.ts:14-24)."""
    return df.selectExpr(*_ASSET_SCHEMA_EXPRS)


def to_json_lines(df: DataFrame, limit: int | None = None) -> list[str]:
    """S9: stdout sink (run.ts:18-19).  Driver-side collect — debug only."""
    if limit:
        df = df.limit(limit)
    return df.toJSON().collect()


__all__ = ["enforce_asset_schema", "to_json_lines", "ASSET_COLUMNS"]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink for co-located joins.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT an Exchange on either side — at 100 TB the difference between
    shuffling both fact tables per query and shuffling never.  (Bucketing
    requires ``saveAsTable``; plain path writes can't record bucket specs.)
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def upsert_assets(spark, path: str, new_assets: DataFrame) -> None:
    """Batch upsert: latest asset document wins per EAN, touching only the
    ``asset.type`` partitions present in the new batch.

    The reference's write step is stubbed ("TBA", run.ts:12-15) but its
    intended semantics are an ES bulk index keyed by document — each run
    overwrites the asset with fresh state.  Batch phrasing:

      * the schema-enforced batch is materialized ONCE, by an eager
        ``localCheckpoint`` whose job also observes the batch's row
        count and its set of ``asset.type`` values — the touched
        partitions cost no action of their own, and the merge reads
        the checkpoint, so the batch plan is evaluated once per upsert;
      * an empty batch is a no-op: nothing is read or written, so an
        empty first batch never leaves a store without a schema;
      * when the store exists, only the touched partitions are read
        back (an EAN is ``{type}:{id}``, so it can never migrate between
        ``asset.type`` partitions) and checkpointed, so the overwrite
        never reads the files it replaces;
      * the batch (with the touched store rows, if any) keeps the newest
        row per ``asset.ean`` (deterministic tiebreak on asset.type) and
        is written with dynamic partition overwrite — one write path for
        the first and every later upsert.  Untouched partitions' files
        are never read or rewritten, so the run is O(touched
        partitions), not O(store);
      * both checkpoints are released after the write, so a long-lived
        upsert loop holds no blocks between calls.

    An upsert of the collectors' cached asset frames onto an existing
    store runs 4 Spark jobs: the batch checkpoint (it reads the four
    in-memory relations), the checkpoint of the touched store
    partitions (read with the declared ``SIMPLE_ASSET_SCHEMA``, so no
    schema-inference job reads the footers first), the ``asset.ean``
    shuffle of the dedup window and the write.

    On a real deployment this maps 1:1 onto MERGE INTO against an
    Iceberg/Delta table keyed on asset.ean; the parquet-path form here
    is per-partition atomic (Spark commit protocol) but not
    multi-partition transactional — a table format is the deployment
    answer for that.
    """
    from pyspark.sql.window import Window

    from .observability import checkpoint, release_checkpoint

    batch, seen = checkpoint(
        enforce_asset_schema(new_assets),
        rows=F.count(F.lit(1)),
        types=F.collect_set(F.col("`asset.type`")),
    )
    live = [batch]
    try:
        if seen["rows"] == 0:
            return
        # Explicit existence probe — a bare try/except around the read
        # would treat any transient read failure as "first write" and
        # destroy the store.  The Hadoop FileSystem API resolves the
        # path's own scheme (local, file:/, hdfs://, s3a://), so a store
        # Spark can read is never mistaken for absent; real probe errors
        # propagate.
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            # Partition-pruned read of just the touched types, checkpointed
            # so the overwrite below does not read the files it replaces
            # (Spark refuses a same-path read+overwrite otherwise).  The
            # declared schema spares the schema-inference job that reads
            # the store's footers; a corrupt file raises in the checkpoint
            # job instead, still before anything is written.
            existing, _ = checkpoint(
                spark.read.schema(SIMPLE_ASSET_SCHEMA)
                .parquet(path)
                .filter(F.col("`asset.type`").isin(seen["types"]))
            )
            live.append(existing)
            batch = existing.unionByName(batch)
        w = Window.partitionBy(F.col("`asset.ean`")).orderBy(
            F.col("`@timestamp`").desc(), F.col("`asset.type`").desc()
        )
        (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("asset.type")
            .parquet(path)
        )
    finally:
        for df in live:
            release_checkpoint(df)


def write_bulk_ndjson(
    df: DataFrame,
    path: str,
    index: str,
    id_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Export as Elasticsearch ``_bulk`` NDJSON: per document an action
    line (``{"index": {"_index": ..., "_id": ...}}``) followed by the
    source line — the exact payload the reference's bulk loader ships
    (S8, `lib/es_client.ts` bulk helper), but produced DISTRIBUTED: each
    task writes its partition as text, so a 100 TB export is a map-only
    job with no driver collect (unlike the debug-only
    :func:`to_json_lines`).

    The action line is assembled with JSON-escaped ``to_json`` structs —
    never string interpolation of raw values — so ids containing quotes
    or backslashes stay valid NDJSON.
    """
    if id_col is not None:
        action = F.to_json(
            F.struct(
                F.struct(
                    F.lit(index).alias("_index"),
                    F.col(f"`{id_col}`").cast("string").alias("_id"),
                ).alias("index")
            )
        )
    else:
        action = F.to_json(
            F.struct(F.struct(F.lit(index).alias("_index")).alias("index"))
        )
    doc = F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
    df.select(
        F.concat_ws("\n", action, doc).alias("value")
    ).write.mode(mode).text(path)
