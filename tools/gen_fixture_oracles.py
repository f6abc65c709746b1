#!/usr/bin/env python3
"""Generate literal VALUES oracles for the synthetic-media suite queries.

These queries are deterministic pure functions of seed-fixed fixtures and
ignore ``sf_dir`` entirely, so their exact expected rows can be frozen as
DuckDB ``VALUES`` literals — giving the driver's hash gate full row/schema
/value coverage over outputs that no SQL engine could recompute (stdlib
image/audio decode, perceptual hashing).

Run after any INTENTIONAL change to the fixtures or decode kernels::

    python3 tools/gen_fixture_oracles.py

Writes ``elastic_asset_etl_poc_spark/fixture_oracles.py``; suite.py picks
the oracles up at import.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries to freeze — every entry must be sf_dir-independent (synthetic
#: fixtures only; add a query here ONLY if it ignores sf_dir)
TARGETS = [
    "multimodal_image_features",
    "multimodal_resize_thumbnails",
    "multimodal_frame_sample",
    "multimodal_audio_features",
    "multimodal_audio_segments",
    "image_neardup_dhash",
    "audio_neardup_afp",
    "video_neardup_frames",
]

_DUCK_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)  # full precision; DuckDB parses back to the same double
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise TypeError(f"unsupported literal type {type(v)}: {v!r}")


def freeze(df) -> str:
    cols = df.columns
    dtypes = dict(df.dtypes)
    casts = ", ".join(
        f"CAST({c} AS {_DUCK_TYPES[dtypes[c]]}) AS {c}" for c in cols
    )
    rows = df.collect()
    if not rows:
        raise ValueError("refusing to freeze an empty result")
    values = ",\n".join("  (" + ", ".join(_lit(v) for v in row) + ")" for row in rows)
    return (
        f"SELECT {casts} FROM (VALUES\n{values}\n) t({', '.join(cols)})"
    )


def main() -> None:
    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(app_name="gen_fixture_oracles", master="local[8]")
    qs = e.queries()
    out = {}
    for name in TARGETS:
        df = qs[name](spark, "/root/testdata/sf0.001")  # sf_dir ignored
        out[name] = freeze(df)
        print(f"{name}: froze {len(out[name])} chars")

    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "elastic_asset_etl_poc_spark",
        "fixture_oracles.py",
    )
    with open(dest, "w") as fh:
        fh.write(
            '"""GENERATED by tools/gen_fixture_oracles.py — do not edit.\n\n'
            "Literal VALUES oracles for the deterministic synthetic-media\n"
            "queries (sf_dir-independent).  Regenerate after intentional\n"
            'fixture/kernel changes; see the generator docstring."""\n\n'
            "FIXTURE_ORACLES: dict[str, str] = {\n"
        )
        for name, sql in out.items():
            fh.write(f"    {name!r}: {sql!r},\n")
        fh.write("}\n")
    print(f"wrote {dest} ({os.path.getsize(dest)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
