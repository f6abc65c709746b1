"""Bounds-scaled Z-order key (functions.scalar.zorder_key_scaled): bit
interleave, clamping, NULLs and argument checks."""

import pytest

from elastic_asset_etl_poc_spark.functions.scalar import zorder_key_scaled


def test_zorder_key_interleaves_bits(spark):
    # 2 bits per dim, bounds [0, 3]: the linear scale maps lo..hi onto
    # 0..top, so integer values ARE their cell ranks.  x bits land at
    # even positions, y bits at odd: (x=3, y=1) → x bits {0,2}, y bit
    # {1} → z = 0b0111 = 7; (x=0, y=3) → y bits {1,3} → z = 0b1010 = 10.
    df = spark.createDataFrame(
        [(3.0, 1.0), (0.0, 3.0), (0.0, 0.0), (3.0, 3.0)], "x double, y double"
    )
    out = [
        r.zkey
        for r in df.select(
            zorder_key_scaled(
                [("x", 0.0, 3.0), ("y", 0.0, 3.0)], bits=2
            ).alias("zkey")
        ).collect()
    ]
    assert out == [7, 10, 0, 15]


def test_zorder_key_clamps_and_nulls_rank_zero(spark):
    df = spark.createDataFrame(
        [(-5.0, 99.0), (None, None)], "x double, y double"
    )
    out = [
        r.zkey
        for r in df.select(
            zorder_key_scaled(
                [("x", 0.0, 3.0), ("y", 0.0, 3.0)], bits=2
            ).alias("zkey")
        ).collect()
    ]
    # x clamps to rank 0, y saturates to rank 3 (bits at odd positions);
    # NULLs rank 0 in both dims
    assert out == [10, 0]


def test_zorder_key_validates_args(spark):
    with pytest.raises(ValueError, match="at least one"):
        zorder_key_scaled([])
    with pytest.raises(ValueError, match=r"bits must be in \[1, 15\]"):
        zorder_key_scaled([("a", 0, 1)] * 4, bits=16)
    with pytest.raises(ValueError, match="hi > lo"):
        zorder_key_scaled([("a", 1.0, 1.0)])
