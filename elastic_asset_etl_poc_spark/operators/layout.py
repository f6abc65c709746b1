"""Data-layout optimization: Z-order (Morton) clustering for scan pruning.

The storage-side lever the rest of the engine assumes: at 100 TB, a
filter on ``(user_id, value)`` is only cheap if rows close in that
2-D space are close ON DISK, so file-level min/max statistics prune
most files at the scan (Delta/Iceberg ``ZORDER BY``, public technique —
Morton 1966).  Bucketing (sinks.write_bucketed) co-locates JOINS on one
key; Z-ordering co-locates RANGE SCANS on several.

Spark-first shape: the Z-key is pure integer bit arithmetic in builtin
column expressions (whole-stage codegen, map-only, engine-portable — the
DuckDB oracle replays it bit-for-bit).  A ``repartitionByRange`` on
that key (one range-exchange; Spark samples boundaries) then gives each
output file a narrow Z-range and therefore a small axis-aligned box of
the keyed space.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, functions as F

__all__ = ["zorder_key"]


def zorder_key(
    cols: Sequence[tuple[str, float, float]],
    bits: int = 16,
) -> Column:
    """Morton-interleaved Z-key over ``cols`` = [(name, lo, hi), ...].

    Each column is linearly scaled to an integer rank in
    ``[0, 2^bits)`` against its CALLER-PROVIDED [lo, hi] bounds
    (clamped — out-of-range values saturate at the edge cells; at scale
    the bounds come from table statistics and need only be approximate,
    since clamping merely coarsens the edge cells).  Bit ``k`` of
    column ``i`` lands at position ``k·d + i`` of the key, so the key's
    high bits split every dimension before any dimension's low bits —
    the locality property that makes file min/max stats selective on
    ALL keyed columns at once.  NULLs rank 0 (they cluster in the first
    cells, mirroring NULLS FIRST).

    Exact integer/IEEE arithmetic throughout — bit-identical across
    engines; ``d · bits`` must fit a signed 64-bit key (≤ 62).
    """
    d = len(cols)
    if d == 0:
        raise ValueError("zorder_key needs at least one column")
    if d * bits > 62:
        raise ValueError(f"{d} cols × {bits} bits exceeds a 63-bit key")
    top = (1 << bits) - 1
    parts: list[Column] = []
    for i, (name, lo, hi) in enumerate(cols):
        if not hi > lo:
            raise ValueError(f"bounds for {name} must satisfy hi > lo")
        scaled = F.floor(
            (F.col(name).cast("double") - F.lit(float(lo)))
            / F.lit(float(hi) - float(lo))
            * F.lit(float(top))
        ).cast("long")
        rank = F.coalesce(
            F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0)
        )
        for k in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(rank, k).bitwiseAND(F.lit(1)), k * d + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("zkey")
