"""The local oracle harness's type-strictness layer must reproduce the
r6 driver-vs-local divergence class: ``audit_split_leakage`` was locally
green for a round while the driver hash-failed it, because DuckDB's bare
SUM() over BIGINT returns HUGEINT where Spark returns BIGINT — invisible
to a value-stringify compare, visible to the driver's type-sensitive
hash.  These tests pin the canonicalizers to (a) flag exactly that class
and (b) stay quiet on the width/flavor differences the driver provably
tolerates (26 int-width + 28 timestamp-flavor driver-green columns)."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle_check import _duck_canonical_types, _spark_canonical_types


def _duck():
    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT 1::BIGINT AS x, 2.5::DOUBLE AS y")
    return con


def test_prefix_r6_oracle_shape_is_flagged(spark):
    """Bare SUM (the pre-fix audit_split_leakage oracle) → HUGEINT ≠
    Spark's BIGINT: the harness must see drift."""
    ot = _duck_canonical_types(_duck(), "SELECT sum(x) AS total FROM t")
    st = _spark_canonical_types(
        spark.range(1).selectExpr("sum(id) AS total").schema
    )
    assert ot["total"] == "i128"
    assert st["total"] == "int"
    assert ot["total"] != st["total"]


def test_fixed_oracle_shape_is_clean(spark):
    """CAST(sum AS BIGINT) — the r7 fix — matches Spark exactly."""
    ot = _duck_canonical_types(
        _duck(), "SELECT CAST(sum(x) AS BIGINT) AS total FROM t"
    )
    st = _spark_canonical_types(
        spark.range(1).selectExpr("sum(id) AS total").schema
    )
    assert ot["total"] == st["total"] == "int"


def test_driver_tolerated_widths_are_coalesced(spark):
    """i32 vs i64 and timestamp ltz vs ntz are driver-green across the
    suite — the harness must not cry wolf on them."""
    ot = _duck_canonical_types(
        _duck(),
        "SELECT 1::INTEGER AS i, 1::BIGINT AS j,"
        " TIMESTAMP '2024-01-01' AS ts FROM t",
    )
    st = _spark_canonical_types(
        spark.sql(
            "SELECT int(1) AS i, bigint(1) AS j,"
            " timestamp_ntz'2024-01-01' AS ts"
        ).schema
    )
    assert ot == st == {"i": "int", "j": "int", "ts": "ts"}


def test_value_representation_changers_stay_distinct(spark):
    """decimal, unsigned, and f32 change pandas-side value representation
    ('3.00'/np.float32 repr) — they must NOT coalesce with int/f64."""
    ot = _duck_canonical_types(
        _duck(),
        "SELECT 1::UBIGINT AS u, 1.5::DECIMAL(10,2) AS d,"
        " 1.5::FLOAT AS f FROM t",
    )
    assert ot == {"u": "u64", "d": "dec(10,2)", "f": "f32"}
    st = _spark_canonical_types(
        spark.sql(
            "SELECT CAST(1.5 AS DECIMAL(10,2)) AS d,"
            " CAST(1.5 AS FLOAT) AS f, CAST(1.5 AS DOUBLE) AS g"
        ).schema
    )
    assert st == {"d": "dec(10,2)", "f": "f32", "g": "f64"}
