"""Sinks (reference S7-S9).

  * S7 DDL/index template (lib/assets_index_template.ts) → schema
    enforcement on write: align to SIMPLE_ASSET_SCHEMA, cap keywords.
  * S8 bulk sink (lib/es_client.ts:29-31; unused — write step "TBA",
    run.ts:12-15) → ``df.write.parquet`` (task-parallel batching).
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


def write_assets_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: the bulk-write analog.  At 100 TB scale prefer partitioned
    output (`partitionBy("asset.type")`) so per-type reads prune files."""
    enforce_asset_schema(df).write.mode(mode).partitionBy("asset.type").parquet(path)


def to_json_lines(df: DataFrame, limit: int | None = None) -> list[str]:
    """S9: stdout sink (run.ts:18-19).  Driver-side collect — debug only."""
    if limit:
        df = df.limit(limit)
    return df.toJSON().collect()


__all__ = ["enforce_asset_schema", "write_assets_parquet", "to_json_lines", "ASSET_COLUMNS"]


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


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-sorted parquet layout for scan pruning (the Z-order-lite
    that plain parquet supports).

    ``repartitionByRange`` gives each output file a DISJOINT range of
    ``sort_cols``; ``sortWithinPartitions`` makes every parquet row group
    internally sorted, so file- and row-group-level min/max statistics
    become tight and non-overlapping.  A reader filtering on the leading
    sort column then skips whole files/row groups at the footer level —
    at 100 TB the difference between scanning a shard and scanning the
    corpus.  Verified in tests by reading the footers back with pyarrow
    and checking (a) disjoint per-file ranges and (b) that a point
    predicate overlaps exactly one file's stats.
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet store into ~target-sized
    files.  Returns the output file count.

    Streaming ingests (foreachBatch upserts, availableNow micro-batches)
    accrete thousands of KB-scale files; at 100 TB the file-listing and
    per-file open costs dominate scans long before data volume does.
    Sizing: one ``repartition(ceil(bytes / target))`` — a single shuffle
    whose width is the output file count.  With ``partition_by`` the
    repartition hashes on the partition columns too, so each partition
    directory compacts to few files and dynamic-overwrite semantics are
    preserved.

    The swap is write-to-temp + rename (local-FS semantics, mirroring
    upsert_assets' caveat): per-directory atomic, not transactional — a
    table format (Iceberg/Delta rewrite-data-files) is the deployment
    answer where readers race compaction.
    """
    import os
    import shutil

    df = spark.read.parquet(path)
    local_files = [f.replace("file:", "") for f in df.inputFiles()]
    total = sum(os.path.getsize(f) for f in local_files if os.path.exists(f))
    n = max(1, -(-total // target_file_bytes))
    tmp = path.rstrip("/") + "__compact"
    if partition_by:
        w = df.repartition(n, *[F.col(f"`{c}`") for c in partition_by]).write
        w = w.partitionBy(*partition_by)
    else:
        w = df.repartition(n).write
    w.mode("overwrite").parquet(tmp)
    # metadata sidecars (_manifest.json etc.) travel with the store —
    # Spark ignores _-prefixed files, but consumers rely on them
    for f in os.listdir(path):
        if f.startswith("_") and f != "_SUCCESS" and os.path.isfile(
            os.path.join(path, f)
        ):
            shutil.copy2(os.path.join(path, f), os.path.join(tmp, f))
    # re-stamp the manifest's file inventory: compaction changes the
    # file layout but not the content, and n_rows/content_hash64 are
    # layout-invariant by construction (bit_xor over rows), so only
    # n_files/files need refreshing — carrying them stale would make
    # verify_manifest raise a guaranteed false tamper alarm.
    mf = os.path.join(tmp, "_manifest.json")
    if os.path.exists(mf):
        import json

        with open(mf) as fh:
            manifest = json.load(fh)
        pq = sorted(
            os.path.join(dirpath, f)
            for dirpath, _dirs, fnames in os.walk(tmp)
            for f in fnames
            if f.endswith(".parquet")
        )
        manifest["n_files"] = len(pq)
        manifest["files"] = [
            {"path": os.path.basename(f), "bytes": os.path.getsize(f)}
            for f in pq
        ]
        with open(mf, "w") as fh:
            json.dump(manifest, fh, indent=1)
    shutil.rmtree(path)  # raise on failure — a half-removed store must
    if os.path.exists(path):  # never let move() nest tmp INSIDE it
        raise IOError(f"failed to clear {path} before compaction swap")
    shutil.move(tmp, path)
    out = spark.read.parquet(path)
    return len(out.inputFiles())


def upsert_assets(
    spark, path: str, new_assets: DataFrame, verify: bool = False
) -> None:
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

    On a real deployment this maps 1:1 onto MERGE INTO against an
    Iceberg/Delta table keyed on asset.ean; the parquet-path form here
    is per-partition atomic (Spark commit protocol) but not
    multi-partition transactional — a table format is the deployment
    answer for that.

    ``verify=True`` closes the store-integrity loop: after the write the
    manifest sidecar is re-stamped (:func:`write_manifest`) and
    immediately re-verified (:func:`verify_manifest`) — a torn write,
    lost file, or concurrent mutation between stamp and check raises
    instead of poisoning downstream readers.  Costs one extra
    distributed hash pass over the store; at 100 TB run it on the
    ingest cadence, not per micro-batch.
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
            # (Spark refuses a same-path read+overwrite otherwise).
            existing, _ = checkpoint(
                spark.read.parquet(path).filter(
                    F.col("`asset.type`").isin(seen["types"])
                )
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
    if verify:
        _stamp_and_verify(spark, path)


def _stamp_and_verify(spark, path: str) -> None:
    """Post-write integrity check: re-stamp the manifest, then re-verify
    it against an independent read of the store."""
    write_manifest(spark, path)
    ok, diffs = verify_manifest(spark, path)
    if not ok:
        raise IOError(f"post-upsert manifest verification failed for {path}: {diffs}")


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
                    F.col(id_col).cast("string").alias("_id"),
                ).alias("index")
            )
        )
    else:
        action = F.to_json(
            F.struct(F.struct(F.lit(index).alias("_index")).alias("index"))
        )
    doc = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    df.select(
        F.concat_ws("\n", action, doc).alias("value")
    ).write.mode(mode).text(path)


def write_manifest(spark, path: str) -> dict:
    """Write a `_manifest.json` sidecar for a parquet store: total rows,
    file inventory with sizes, and an order-insensitive 64-bit content
    hash (``bit_xor(xxhash64(all columns))`` — one distributed pass, no
    collect of data).  Returns the manifest dict.

    The trust primitive a 100-TB pipeline needs between stages: a
    downstream consumer (or a re-run) calls :func:`verify_manifest` to
    prove the store it sees is the store that was written — lost files,
    truncated writes, and silent re-writes all change rows/hash.  The
    underscore prefix keeps Spark/Hadoop readers from treating the
    sidecar as data.  XOR is self-inverse, so a store differing by an
    EVEN number of identical rows can collide; the row count catches
    every cardinality change, which covers the realistic failure modes
    (lost file, duplicated batch).
    """
    import json
    import os

    df = spark.read.parquet(path)
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("h"),
    ).collect()[0]
    files = sorted(f.replace("file:", "") for f in df.inputFiles())
    manifest = {
        "n_rows": agg.n_rows,
        "content_hash64": agg.h,
        "n_files": len(files),
        "files": [
            {"path": os.path.basename(f), "bytes": os.path.getsize(f)}
            for f in files
        ],
        "columns": df.columns,
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def verify_manifest(spark, path: str) -> tuple[bool, dict]:
    """Recompute the :func:`write_manifest` invariants and diff them →
    (ok, {field: (expected, actual), ...} for every mismatch)."""
    import json
    import os

    with open(os.path.join(path, "_manifest.json")) as fh:
        want = json.load(fh)
    df = spark.read.parquet(path)
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("h"),
    ).collect()[0]
    got = {
        "n_rows": agg.n_rows,
        "content_hash64": agg.h,
        "n_files": len(df.inputFiles()),
        "columns": df.columns,
    }
    diffs = {
        k: (want[k], got[k]) for k in got if want.get(k) != got[k]
    }
    return (not diffs, diffs)


WDS_MANIFEST_SCHEMA = "shard string, n_members int, n_bytes bigint"


def write_wds_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    payload_col: str,
    meta_cols: list[str] | None = None,
    rows_per_shard: int = 10_000,
    ext: str = "bin",
) -> DataFrame:
    """WebDataset-style tar shards → manifest DataFrame (shard,
    n_members, n_bytes).

    The de-facto loader format for large-scale multimodal training:
    each sample becomes two adjacent tar members, ``{key}.{ext}`` (the
    binary payload) and ``{key}.json`` (the metadata columns), grouped
    per shard so a dataloader streams samples sequentially with no
    random I/O.  Fully distributed: every task tars its own partition
    with stdlib ``tarfile`` into ``shard-{partition:05d}-{seq:04d}.tar``
    files (caller controls shard count/ordering by repartitioning
    first), and yields one manifest row per shard — the returned frame
    IS the write action, so ``collect()`` it (tiny: one row per shard)
    or persist it next to the shards.  Member timestamps are pinned to
    epoch for byte-reproducible shards.

    The binary column never shuffles through the driver; at 100 TB this
    is a map-only export whose parallelism equals the input partitions.
    """
    import os

    os.makedirs(path, exist_ok=True)
    meta_cols = list(meta_cols or [])
    cols = [key_col, payload_col, *meta_cols]

    def shards(it):
        import io
        import json as _json
        import tarfile

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        tar = None
        name = None
        members = 0

        def open_shard():
            nonlocal tar, name, members
            name = f"shard-{pid:05d}-{seq:04d}.tar"
            tar = tarfile.open(os.path.join(path, name), "w")
            members = 0

        def add(tar_, member_name, data: bytes):
            info = tarfile.TarInfo(member_name)
            info.size = len(data)
            info.mtime = 0  # pinned: identical input -> identical bytes
            tar_.addfile(info, io.BytesIO(data))

        def close_shard(out):
            nonlocal tar, seq
            if tar is not None and members:
                tar.close()
                out.append(
                    (name, members, os.path.getsize(os.path.join(path, name)))
                )
                seq += 1
                tar = None
            elif tar is not None:
                tar.close()
                os.remove(os.path.join(path, name))
                tar = None

        out: list[tuple] = []
        open_shard()
        for pdf in it:
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                key = str(d[key_col])
                payload = d[payload_col]
                payload = bytes(payload) if payload is not None else b""
                meta = {c: d[c] for c in meta_cols}
                add(tar, f"{key}.{ext}", payload)
                add(
                    tar,
                    f"{key}.json",
                    _json.dumps(meta, default=str).encode(),
                )
                members += 1
                if members >= rows_per_shard:
                    close_shard(out)
                    open_shard()
        close_shard(out)
        yield pd.DataFrame(out, columns=["shard", "n_members", "n_bytes"])

    return df.select(*cols).mapInPandas(shards, WDS_MANIFEST_SCHEMA)
