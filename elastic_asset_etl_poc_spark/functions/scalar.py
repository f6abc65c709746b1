"""Scalar column builders (reference §2.8: X1-X7).

All builtin Column expressions — no Python UDFs (SURVEY.md §2.10), so every
function here stays inside Tungsten whole-stage codegen.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F


def make_ean(asset_type: str | Column, asset_id: Column) -> Column:
    """X1: EAN construction ``{type}:{id}``.

    Reference: template literals like ``` `service:${serviceName}` ```
    (lib/collectServices.ts:94-97, lib/collectPods.ts:76-77,94-96,103-108).

    ``F.concat`` (not ``concat_ws``) so a NULL id yields NULL — matching
    SQL ``||`` semantics and the repo's null-propagating concat convention
    (sources/signals.py); ``concat_ws`` would silently skip the NULL and
    emit a bare ``"service"``.
    """
    t = F.lit(asset_type) if isinstance(asset_type, str) else asset_type
    return F.concat(t, F.lit(":"), asset_id)


#: X2 cascade order: (signal column, parent asset type), first non-null wins.
#: Reference ``findParent`` (lib/collectServicesFromSummaries.ts:121-154):
#: container.id → kubernetes.pod.uid → host.name → host.hostname, with a
#: terminal ('unknown', '') fallback.
PARENT_CASCADE: list[tuple[str, str]] = [
    ("container.id", "container"),
    ("kubernetes.pod.uid", "k8s.pod"),
    ("host.name", "host"),
    ("host.hostname", "host"),
]


def _parent_struct(ptype: str, parent_id: str) -> str:
    return (
        f"named_struct('parent_type', '{ptype}', 'parent_id', {parent_id}, "
        f"'parent_ean', concat('{ptype}', ':', {parent_id}))"
    )


#: :func:`find_parent` as SQL text, for ``selectExpr`` callers that take
#: its fields (``({FIND_PARENT_SQL}).parent_ean``).  Built from
#: ``PARENT_CASCADE`` only, never from caller values.
FIND_PARENT_SQL = (
    "CASE "
    + " ".join(
        f"WHEN `{field}` IS NOT NULL THEN {_parent_struct(ptype, f'`{field}`')}"
        for field, ptype in PARENT_CASCADE
    )
    + " ELSE "
    + _parent_struct("unknown", "''")
    + " END"
)


def find_parent() -> Column:
    """X2: priority-coalesce parent derivation as a struct column.

    Returns ``struct(parent_type, parent_id, parent_ean)``; the CASE
    evaluates the cascade exactly once per row, JVM-side — the
    declarative equivalent of the reference's if/else ladder
    (lib/collectServicesFromSummaries.ts:121-154).  One expression
    parsed from :data:`FIND_PARENT_SQL`: one JVM call, where a chained
    ``when`` of Column objects costs dozens.
    """
    return F.expr(FIND_PARENT_SQL)


def date_math_lookback(now: datetime, amount: int, unit: str) -> tuple[Column, Column]:
    """X4: ES date math ``now-10m`` / ``now-1h`` → a [lo, hi] literal pair.

    The reference evaluates date math server-side
    (lib/collectServicesFromSummaries.ts:36,205).  ``now`` is always an
    explicit parameter (determinism rule, SURVEY.md §5.5): literal bounds
    let the Parquet reader do min/max row-group pruning — a filter against
    ``current_timestamp()`` would too, but could never be oracle-checked.
    """
    delta = {
        "m": timedelta(minutes=amount),
        "h": timedelta(hours=amount),
        "d": timedelta(days=amount),
    }[unit]
    return F.lit(now - delta), F.lit(now)


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` of each input
    column into one clustering key.  A range-partitioned sort on that
    ONE column (``repartitionByRange`` + ``sortWithinPartitions``)
    yields files whose min/max footers are tight in EVERY interleaved
    dimension — multi-dimensional scan pruning on plain parquet (the
    Z-order layout Delta/Iceberg expose as OPTIMIZE ZORDER BY, built
    from builtin bit arithmetic).

    Inputs must be non-negative integers already bucketed/ranked to
    ``bits`` de-facto range (values beyond it only lose locality above
    bit ``bits``, never correctness).  Pure shift/and/or column
    expression — codegen, map-side, engine-portable.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if not 1 <= bits <= 63 // len(cols):
        raise ValueError(f"bits must be in [1, {63 // len(cols)}] for {len(cols)} cols")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def zorder_key_scaled(
    cols: list[tuple[str, float, float]], bits: int = 16
) -> Column:
    """:func:`zorder_key` over raw numeric columns ``[(name, lo, hi), ...]``.

    Each column is linearly scaled to an integer rank in ``[0, 2^bits)``
    against its CALLER-PROVIDED [lo, hi] bounds (clamped — out-of-range
    values saturate at the edge cells; at scale the bounds come from
    table statistics and need only be approximate, since clamping merely
    coarsens the edge cells), then the ranks interleave.  NULLs rank 0
    (they cluster in the first cells, mirroring NULLS FIRST).  Exact
    integer/IEEE arithmetic throughout — bit-identical across engines.
    """
    top = (1 << bits) - 1
    ranks: list[Column] = []
    for name, lo, hi in cols:
        if not hi > lo:
            raise ValueError(f"bounds for {name} must satisfy hi > lo")
        scaled = F.floor(
            (F.col(name).cast("double") - F.lit(float(lo)))
            / F.lit(float(hi) - float(lo))
            * F.lit(float(top))
        ).cast("long")
        ranks.append(
            F.coalesce(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0))
        )
    return zorder_key(ranks, bits=bits)


def canonicalize_url(
    url: Column,
    strip_params: tuple = ("utm_", "fbclid", "gclid", "msclkid"),
) -> Column:
    """Canonical URL for crawl-scale dedup — one pure-JVM expression.

    The normalizations every web-corpus pipeline applies before URL-level
    dedup (scheme/host case, default ports, tracking params, param order,
    fragments, trailing slash), composed from ``parse_url`` + array
    builtins so the whole thing stays inside whole-stage codegen — at
    ingest rates this runs per-fetched-page, so no Python may touch it:

      * scheme and host lowercased; a leading ``www.`` dropped
      * ``:80``/``:443`` dropped when they are the scheme's default;
        any other explicit port kept
      * query params: tracking params removed (prefix match for entries
        ending in ``_`` like ``utm_``, exact key match otherwise), the
        rest SORTED (param order is presentation, not identity), ``?``
        dropped if none survive
      * fragment dropped (client-side only)
      * trailing slash stripped from non-root paths; empty path → ``/``

    NULL/unparseable input (no host) yields NULL — route those to a
    quarantine sink rather than letting them collide as equal keys.
    """

    def part(p: str) -> Column:
        # try_parse_url: NULL on malformed input (plain parse_url THROWS
        # since Spark 4 — a crawl frontier always contains garbage, and
        # one bad row must not kill the job)
        return F.try_parse_url(url, F.lit(p))

    scheme = F.lower(part("PROTOCOL"))
    raw_host = F.lower(part("HOST"))
    host = F.when(
        raw_host.startswith("www."),
        raw_host.substr(F.lit(5), F.length(raw_host)),
    ).otherwise(raw_host)
    auth = F.lower(part("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.coalesce(part("PATH"), F.lit("/"))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(part("QUERY"), F.lit("")), "&"),
            lambda kv: (F.length(kv) > 0)
            & ~F.exists(
                F.array(*[F.lit(s) for s in strip_params]),
                lambda s: F.when(
                    s.endswith("_"), kv.startswith(s)
                ).otherwise(F.split(kv, "=")[0] == s),
            ),
        )
    )
    query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        raw_host.isNotNull() & (raw_host != ""),
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
                F.lit("")
            ),
            path,
            query,
        ),
    )


def rendezvous_shard(key: Column, n_shards: int) -> Column:
    """Rendezvous (highest-random-weight) shard assignment: the shard i
    in [0, n) maximizing h(key, i) — Thaler & Ravishankar 1998, the
    consistent-placement primitive behind stable storage sharding.

    Why not ``pmod(hash, n)``: modular placement remaps ~HALF the keys
    when n changes (every key whose residue shifts), invalidating caches
    and forcing a near-full data move; rendezvous moves EXACTLY the keys
    won by the new shard — an expected 1/(n+1) fraction, every one of
    them moving TO the new shard — so cluster resizes cost what they
    must and nothing more.

    Built as ``array_max`` over (hash, i) structs: one expression inside
    whole-stage codegen, no explode, no shuffle.  The per-shard hash is
    the repo's replayable md5 idiom (48 hex bits — collision odds ~1e-9
    per key across shard candidates, and a collision only flips a
    tiebreak deterministically: struct comparison falls through to i).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    entries = [
        F.struct(
            F.conv(
                F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))), 1, 12
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
            F.lit(i).alias("i"),
        )
        for i in range(n_shards)
    ]
    return F.array_max(F.array(*entries))["i"]
