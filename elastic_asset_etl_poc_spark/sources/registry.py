"""Sources: named tables → DataFrames (reference S1-S4).

Reference equivalents:
  * S1 ES index scan   (lib/es_client.ts:25-27)  → ``spark.read.parquet``
  * S2 index patterns  (constants.ts:1-2)        → per-table paths/globs
  * S4 multi-source union scan (lib/collectPods.ts:13, one query over
    ``[logsIndices, apmIndices]``) → ``unionByName(allowMissingColumns)``

Scale notes: the parquet scan is the pushdown boundary — filters and
column pruning land here (verify with ``df.explain``: ``PushedFilters``,
``ReadSchema``).  Timestamp normalization happens once at this boundary so
every downstream operator sees proper TimestampType.
"""

from __future__ import annotations

import atexit
from collections.abc import Callable, Hashable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone
import os
import shutil
import stat
import tempfile
from typing import Any
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..observability import release_checkpoint

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ns_epoch(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000) * 1000


#: per-(session, path) LAZY reader handles.  ``spark.read.X``
#: re-lists the path and re-reads the parquet footer on EVERY call —
#: measured ~90 ms per call, and the suite's 256 load_table sites paid
#: it per query invocation (~20 s per full bench pass).  Memoizing the
#: analyzed handle is metadata-only — the same thing registering the
#: table in a catalog once per session does in production: NO rows are
#: cached, every action still scans the parquet input.  Stamped with the
#: resolved path's ``_stamp`` so a rewritten fixture invalidates
#: (and refreshes the caches Spark holds over that path), and scoped
#: per live SparkSession via a WeakKeyDictionary so a new session
#: (fresh JVM, different confs) never sees another session's plans —
#: the weak key (not id(session)) means a stopped session's handles
#: are garbage-collected with it and a recycled CPython object
#: id can never resurrect plans bound to a dead JVM session (r17,
#: advisor item).  CSV note: inferSchema'd handles freeze the inferred
#: schema for the session — same as a catalog registration would.
#:
#: Caveat (same as spark.table()): two load_table calls for the SAME
#: table now return the SAME DataFrame object — a self-join must use
#: column-NAME join keys or explicit aliases, not bracket columns from
#: the two handles (which would compare a column with itself; Spark
#: raises AMBIGUOUS_SELF_JOIN for the plain form, so the failure is
#: loud, not silent).  Audited: no suite query bracket-joins two loads
#: of one table.
_RAW_FRAMES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _read_raw(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    stamp = _stamp(path)
    per_session = {} if stamp is None else _RAW_FRAMES.setdefault(spark, {})
    held = per_session.get((path, fmt))
    if held is not None:
        if held[0] == stamp:
            return held[1]
        # the files changed under this session: a cached frame over the
        # path (the signal window, the collectors' frames) still matches
        # a fresh read's plan by the file index's root paths and would
        # serve the old rows, so refresh the path's caches first
        spark.catalog.refreshByPath(path)
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":  # columnar like parquet: pushdown + pruning intact
        df = spark.read.orc(path)
    elif fmt == "csv":
        df = (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
        )
    else:
        df = spark.read.json(path)
    if stamp is not None:
        per_session[(path, fmt)] = (stamp, df)
    return df


def _data_files(path: str, rel: str = "") -> list[tuple[str, int, int]]:
    """(relative name, mtime_ns, size) of every data file under ``path``.
    Names Spark's file listing skips (``.`` first, or ``_`` first and no
    ``=``) are skipped too.  One ``scandir`` per directory and one stat
    per file."""
    files = []
    with os.scandir(path) as entries:
        for entry in entries:
            name = entry.name
            if name.startswith(".") or (name.startswith("_") and "=" not in name):
                continue
            try:
                if entry.is_dir():
                    files += _data_files(entry.path, f"{rel}{name}/")
                else:
                    st = entry.stat()
                    files.append((rel + name, st.st_mtime_ns, st.st_size))
            except OSError:  # removed while listing
                continue
    return files


def _stamp(path: str) -> tuple | None:
    """A file's (mtime_ns, size); a directory's sorted :func:`_data_files`,
    since a part file rewritten in place changes neither the directory's
    mtime nor its size.  None when the path is unreadable."""
    try:
        st = os.stat(path)
        if stat.S_ISDIR(st.st_mode):
            return tuple(sorted(_data_files(path)))
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _table_path(sf_dir: str, table: str) -> tuple[str, str]:
    """(path, format) a table reads: ``<table>.parquet``, else the first
    of its ORC / CSV / JSON encodings that exists."""
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):  # alternate source formats (S2: same table,
        for cand, fmt in (
            (f"{sf_dir}/{table}.orc", "orc"),
            (f"{sf_dir}/{table}.csv", "csv"),
            (f"{sf_dir}/{table}.json", "json"),
        ):
            if os.path.exists(cand):  # different physical encoding)
                return cand, fmt
    return path, "parquet"


def table_identity(sf_dir: str, table: str) -> tuple | None:
    """The file identity ``load_table`` memoizes a table's reader on:
    (path, format, stamp) with the ``_stamp`` of the path, or None when
    the path is unreadable.  A memo of anything derived from the table
    keys on it too, so a rewritten table is never served from an old
    build."""
    path, fmt = _table_path(sf_dir, table)
    stamp = _stamp(path)
    return None if stamp is None else (path, fmt, stamp)


@dataclass
class _Memo:
    """One session's memo: its entries, the temp dirs its builds made,
    and how many calls built an entry and how many served one."""

    entries: dict = field(default_factory=dict)
    dirs: list = field(default_factory=list)
    built: int = 0
    served: int = 0


#: per-session build-once artifacts of the query suite (checkpointed
#: frames, trained centroids and codebooks, model rows, staged stores),
#: the tick's cached signal window and the asset collectors' cached frames.
#: Weakly keyed on the live SparkSession like ``_RAW_FRAMES``: a local
#: checkpoint lives in its session's block manager, so a session stopped
#: and created again builds afresh and never reads a dead session's
#: frame.  Each entry is stamped with the ``table_identity`` of the
#: tables it was built from, so a rewritten table is never served from
#: an old build.
_MEMOS: "weakref.WeakKeyDictionary[SparkSession, _Memo]" = (
    weakref.WeakKeyDictionary()
)


def memo(
    spark: SparkSession,
    kind: Hashable,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], Any],
    params: Hashable = (),
) -> Any:
    """``build()`` once per session, ``kind``, ``sf_dir`` and file
    identity of ``tables``; later calls serve the stored value.

    ``kind`` names the artifact; artifacts of different kinds are held
    side by side.  ``params`` are build inputs that supersede rather
    than add: a call whose ``params`` differ from the held entry's, like
    a call after one of ``tables`` was rewritten, builds afresh and
    releases the held value, so at most one value per ``kind`` and
    ``sf_dir`` is held.  A DataFrame the build returns, bare or in a
    tuple, must be a local checkpoint or ``.cache()``d: releasing frees
    its blocks.  A directory it holds must come from :func:`memo_dir`.

    A ``.cache()``d frame whose cache is gone (``catalog.clearCache``,
    an unpersist) makes its entry stale, like a rewritten table: the
    call releases it and builds again, so a served value's cached
    frames are still cached and ``memo_counts`` counts a recomputation
    as a build.  Local checkpoints and memo dirs are not checked."""
    state = _MEMOS.setdefault(spark, _Memo())
    key = (kind, sf_dir)
    stamp = (tuple(table_identity(sf_dir, t) for t in tables), params)
    held = state.entries.get(key)
    if held is not None:
        if held[0] == stamp and not _dropped(held[1]):
            state.served += 1
            return held[1]
        del state.entries[key]
        _release(state, held[1])
    value = build()
    state.entries[key] = (stamp, value)
    state.built += 1
    return value


def memo_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh temp directory for a memo build.  It is removed when its
    entry is superseded, by :func:`clear`, or at the latest at exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    _MEMOS.setdefault(spark, _Memo()).dirs.append(path)
    return path


def memo_counts(spark: SparkSession) -> tuple[int, int]:
    """(built, served) memo calls in this session so far.  Reads Python
    counters only: no Spark job."""
    state = _MEMOS.get(spark)
    return (0, 0) if state is None else (state.built, state.served)


def _dropped(value: Any) -> bool:
    """Whether a ``.cache()``d frame of a memo value lost its cache."""
    return any(
        isinstance(part, DataFrame)
        and part.is_cached
        and not part._jdf.storageLevel().useMemory()
        for part in (value if isinstance(value, tuple) else (value,))
    )


def _release(state: _Memo, value: Any) -> None:
    for part in value if isinstance(value, tuple) else (value,):
        if isinstance(part, DataFrame):
            if part.is_cached:
                part.unpersist(blocking=False)
            else:
                release_checkpoint(part)
        elif isinstance(part, str) and part in state.dirs:
            state.dirs.remove(part)
            shutil.rmtree(part, ignore_errors=True)


def clear(spark: SparkSession) -> None:
    """Drop the session's memo entries: release their checkpoints and
    remove the memo's temp dirs, so the next call of each builds again.
    The built/served counts are kept."""
    state = _MEMOS.get(spark)
    if state is None:
        return
    for _stamp, value in state.entries.values():
        _release(state, value)
    state.entries.clear()
    for path in state.dirs:
        shutil.rmtree(path, ignore_errors=True)
    state.dirs.clear()


def load_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_range: tuple[datetime, datetime] | None = None,
) -> DataFrame:
    """Load one named table, normalizing nanosecond timestamps.

    The fixture files at sf0.001, sf0.01 and sf0.1 store ``events.ts`` as
    parquet TIMESTAMP(MICROS) (``timestamp[us]``), which Spark reads as a
    timestamp and this function passes through.  Only an events file
    written as TIMESTAMP(NANOS) takes the bigint branch: with
    ``spark.sql.legacy.parquet.nanosAsLong`` its ``ts`` arrives as a
    ns-epoch long and is truncated to microseconds here (integer
    floor-division, the same ns→µs conversion DuckDB applies), so Spark
    and the oracle agree.

    ``ts_range=(lo, hi)`` (UTC, inclusive) additionally filters the *raw*
    ns column of such a file before conversion.  This is the pushdown path
    for time windows: Catalyst cannot invert ``timestamp_micros(ts div
    1000)``, so a post-conversion range never reaches the scan — the
    raw-long comparison does (``PushedFilters: GreaterThanOrEqual(ts,
    ...)``), which at 100 TB is row-group/partition pruning instead of a
    full scan.
    """
    df = _read_raw(spark, *_table_path(sf_dir, table))
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        if ts_range is not None:
            # conservative bounds vs the post-conversion µs filter: a row at
            # hi + 999ns truncates to hi µs and must survive the prefilter
            lo, hi = ts_range
            df = df.filter(
                (F.col("ts") >= F.lit(_ns_epoch(lo)))
                & (F.col("ts") <= F.lit(_ns_epoch(hi) + 999))
            )
        # integer division — double division loses precision at ns-epoch scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def union_scan(*dfs: DataFrame) -> DataFrame:
    """S4: one scan over several logical sources (lib/collectPods.ts:13).

    ``unionByName(allowMissingColumns=True)`` mirrors querying two index
    patterns whose documents carry different field sets: missing fields are
    NULL, matching the fields-API "absent field" behavior.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
