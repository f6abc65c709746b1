#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin on the same
parquet fixtures, then compares row count, column names, and
order-insensitive values (floats to 1e-6).  Usage::

    python3 tests/oracle_check.py [sf0.01] [--strict-types] [query_name ...]

Beyond the tolerant value compare, every query gets a TYPE-STRICTNESS
check: Spark's result schema and the oracle's DuckDB result types are
both mapped onto one canonical lattice (i32 ≠ i64 ≠ i128, dec(p,s),
f64, …) and any divergence prints a ``TYPE`` line.  This is the r6
lesson mechanized: ``audit_split_leakage`` was locally green for a full
round while the driver hash-failed it, because DuckDB's bare SUM()
returns HUGEINT (i128) where Spark returns BIGINT — a drift the
value-stringify compare cannot see.  The driver's own hash is
type-sensitive, so ANY ``TYPE`` line here predicts a driver mismatch;
keep the run TYPE-clean.  ``--strict-types`` turns the warnings into
failures (exit 1).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows, columns):
    """Sort columns by name, then rows; stringify with float rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append(f"b:{int(v)}")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.6f}")
            elif v is None:
                vals.append("∅")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def _spark_canonical_types(schema) -> dict[str, str]:
    """Spark result schema → {col: canonical type tag}."""
    from pyspark.sql import types as T

    def tag(dt) -> str:
        # signed widths ≤64 coalesce: the driver stringifies values, so
        # i32 vs i64 cannot change a hash (26 driver-green columns prove
        # it).  What CAN: i128/unsigned/decimal (pandas converts them to
        # float/object → "3.0" vs "3") — those stay distinct.
        if isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return "int"
        if isinstance(dt, T.FloatType):
            return "f32"
        if isinstance(dt, T.DoubleType):
            return "f64"
        if isinstance(dt, T.DecimalType):
            return f"dec({dt.precision},{dt.scale})"
        if isinstance(dt, T.StringType):
            return "str"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.DateType):
            return "date"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "ts"  # session is pinned UTC: ltz ≡ ntz on the wire
        if isinstance(dt, T.ArrayType):
            return f"array<{tag(dt.elementType)}>"
        return type(dt).__name__.removesuffix("Type").lower()

    return {f.name: tag(f.dataType) for f in schema.fields}


def _duck_canonical_types(con, sql: str) -> dict[str, str]:
    """Oracle result types via DESCRIBE (plans, does not execute)."""
    mapping = {
        "TINYINT": "int",
        "SMALLINT": "int",
        "INTEGER": "int",
        "BIGINT": "int",
        "HUGEINT": "i128",
        "UTINYINT": "u8",
        "USMALLINT": "u16",
        "UINTEGER": "u32",
        "UBIGINT": "u64",
        "UHUGEINT": "u128",
        "FLOAT": "f32",
        "DOUBLE": "f64",
        "VARCHAR": "str",
        "BOOLEAN": "bool",
        "DATE": "date",
        "TIMESTAMP": "ts",
        "TIMESTAMP WITH TIME ZONE": "ts",
    }

    def tag(t: str) -> str:
        t = t.strip()
        if t.endswith("[]"):
            return f"array<{tag(t[:-2])}>"
        if t.startswith("DECIMAL"):
            return "dec" + t[len("DECIMAL"):].replace(" ", "")
        return mapping.get(t, t.lower())

    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: tag(r[1]) for r in rows}


def main():
    args = [a for a in sys.argv[1:]]
    sf = next((a for a in args if a.startswith("sf")), "sf0.001")
    strict_types = "--strict-types" in args
    only = [a for a in args if not a.startswith(("sf", "--"))]
    sf_dir = f"/root/testdata/{sf}"

    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(master="local[16]")
    con = duck_connect(sf_dir)
    qs, osql = e.queries(), e.oracle_sql()

    failed = []
    type_drift = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in osql:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(osql[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failed.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} oracle={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            s = normalize([tuple(r) for r in srows], scols)
            o = normalize(orows, ocols)
            if s != o:
                diffs = [(a, b) for a, b in zip(s, o) if a != b][:3]
                print(f"FAIL  {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            # type-strictness layer: value-equal is not driver-equal —
            # the driver's hash is type-sensitive (r6: HUGEINT vs BIGINT)
            try:
                stypes = _spark_canonical_types(sdf.schema)
                otypes = _duck_canonical_types(con, osql[name])
                drift = {
                    c: (stypes[c], otypes[c])
                    for c in stypes
                    if c in otypes and stypes[c] != otypes[c]
                }
            except Exception as ex:  # DESCRIBE hiccup: report, don't mask
                drift = {"<describe-error>": (str(ex)[:80], "")}
            if drift:
                type_drift.append(name)
                print(f"TYPE  {name}: spark≠oracle types {drift}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            failed.append(name)

    if strict_types:
        failed.extend(n for n in type_drift if n not in failed)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if type_drift:
        print(
            f"{len(type_drift)} type-drift queries (driver hash risk): "
            f"{type_drift}"
        )
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
