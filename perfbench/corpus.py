"""Seeded input corpus for the benchmark.

The tables have the shapes of the package's fixture tables (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``,
``events``, ``documents``, ``embeddings``; see FIXTURES.md) at the sf0.01
sizes, with ``events`` multiplied by ``events_scale``.

Row *content* comes from one fixed internal generator, so every seed has
the same rows, the same row counts and the same derived service,
container, pod and node cardinalities.  The run seed only changes

  * the row order inside every table, and
  * where each large table is cut into its ``FILES_PER_TABLE`` part files
    (one micro-batch for the streaming sources, which read 8 files per
    trigger).

Each table is a directory ``<table>.parquet/part-NNN.parquet`` with the
column types of the fixture files (``FIXTURE_SCHEMAS``).  FIXTURES.md lists
``events.ts`` as ``timestamp[ns]`` and the TPC-H dates as ``timestamp[ms]``,
but the fixture files at every scale store all three as ``timestamp[us]``
without a time zone, and the package's streaming schema reads ``ts`` as
``TimestampNTZ``; the corpus follows the files.

Self-test (same seed twice gives identical files; two seeds give equal
row counts and equal DuckDB-twin results for the pipeline's queries)::

    python3 perfbench/corpus.py --self-test
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bumped whenever the files a seed gives change, so old caches are not reused
FORMAT = 2
CONTENT_SEED = 20240131
FILES_PER_TABLE = 4
SMALL_TABLES = ("region", "nation", "supplier")

#: customer, supplier, part, orders, lineitem, events rows at sf0.01
SF001_ROWS = (1500, 100, 2000, 15000, 60000, 10000)
N_DOCS = 500
N_VECS = 500
N_USERS = 150

#: column types of the fixture files (sf0.001, sf0.01 and sf0.1 agree)
FIXTURE_SCHEMAS = {
    "region": "r_regionkey int32, r_name string",
    "nation": "n_nationkey int32, n_name string, n_regionkey int32",
    "customer": "c_custkey int64, c_name string, c_nationkey int32, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey int64, s_name string, s_nationkey int32, s_acctbal double",
    "part": "p_partkey int64, p_name string, p_brand string, p_type string, "
    "p_size int32, p_retailprice double",
    "orders": "o_orderkey int64, o_custkey int64, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp[us], o_orderpriority string",
    "lineitem": "l_orderkey int64, l_partkey int64, l_suppkey int64, "
    "l_linenumber int32, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp[us]",
    "events": "event_id int64, ts timestamp[us], user_id int64, event_type string, "
    "value double, props string",
    "documents": "doc_id int64, text string, lang string, source string, n_chars int64",
    "embeddings": "vec_id int64, embedding list<element: float>, label int32",
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _round2(x):
    return np.round(x, 2)


def _content(events_scale: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CONTENT_SEED)
    N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM, N_EVENTS = SF001_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, N_SUPPLIER)),
        }
    )
    adj = np.array("blue old small new hot large cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate anvil rod".split())
    ptypes = np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())
    pk = np.arange(N_PART)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
                noun[rng.integers(0, 8, N_PART)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2404, N_ORDERS).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)],
        }
    )
    lok = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    ship = odate[lok] + rng.integers(1, 96, N_LINEITEM).astype("timedelta64[D]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _round2(qty * rng.uniform(900.0, 2100.0, N_LINEITEM)),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    n_ev = N_EVENTS * events_scale
    t0 = np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    span = int(timedelta(days=30).total_seconds() * 1e6)
    ts = np.sort(t0 + rng.integers(0, span, n_ev))
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n_ev), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, n_ev)],
            "value": _round2(np.minimum(rng.exponential(60.0, n_ev) + 0.01, 499.99)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": langs[rng.choice(5, N_DOCS, p=lang_p)],
            "source": np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str)),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, N_VECS)
    vec = 0.14 * centers[label] + rng.normal(size=(N_VECS, 64)) / 8.0
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return t


def generate(out_dir: str, seed: int, events_scale: int = 1) -> str:
    """Write the corpus for ``seed`` under ``out_dir`` (reused if present)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed)
    for name, table in _content(events_scale).items():
        d = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(d)
        table = table.take(rng.permutation(table.num_rows))
        if name in SMALL_TABLES:
            cuts = [0, table.num_rows]
        else:
            inner = np.sort(rng.choice(np.arange(1, table.num_rows), FILES_PER_TABLE - 1, replace=False))
            cuts = [0, *inner.tolist(), table.num_rows]
        for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
            pq.write_table(table.slice(a, b - a), os.path.join(d, f"part-{i:03d}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.replace(tmp, out_dir)
    return out_dir


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def schemas(root: str) -> dict[str, str]:
    """``FIXTURE_SCHEMAS``-style column types of each table of a corpus."""
    out = {}
    for name in sorted(os.listdir(root)):
        if name.endswith(".parquet"):
            d = os.path.join(root, name)
            schema = pq.read_schema(os.path.join(d, sorted(os.listdir(d))[0]))
            out[name[: -len(".parquet")]] = ", ".join(f"{f.name} {f.type}" for f in schema)
    return out


def row_counts(root: str) -> dict[str, int]:
    out = {}
    for name in sorted(os.listdir(root)):
        if name.endswith(".parquet"):
            d = os.path.join(root, name)
            out[name[: -len(".parquet")]] = sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in os.listdir(d)
            )
    return out


#: DuckDB twins whose results must not depend on the seed
SEED_INVARIANT_TWINS = (
    "svc_phase1_dedup",
    "svc_phase2_parents",
    "assets_services",
    "assets_containers",
    "assets_pods",
    "assets_nodes",
)


def self_test(work: str) -> None:
    """Same seed twice gives identical files with the fixture's column
    types; two seeds give equal row counts and equal oracle results (hence equal service, container, pod
    and node cardinalities)."""
    import oracle
    from elastic_asset_etl_poc_spark import suite

    shutil.rmtree(work, ignore_errors=True)
    a = generate(os.path.join(work, "a"), 7, events_scale=10)
    b = generate(os.path.join(work, "b"), 7, events_scale=10)
    c = generate(os.path.join(work, "c"), 8, events_scale=10)
    assert _digest(a) == _digest(b), "same seed gave different files"
    assert _digest(a) != _digest(c), "different seeds gave identical files"
    assert row_counts(a) == row_counts(c), "row counts depend on the seed"
    assert schemas(a) == FIXTURE_SCHEMAS, f"schemas differ from the fixture files: {schemas(a)}"
    twins = suite.oracle_sql()
    sizes = {}
    for name in SEED_INVARIANT_TWINS:
        results = []
        for root in (a, c):
            con = oracle.connect(root)
            res = con.execute(twins[name])
            cols = [d[0] for d in res.description]
            results.append(oracle.normalize(res.fetchall(), cols))
            con.close()
        assert results[0] == results[1], f"{name} depends on the seed"
        sizes[name] = len(results[0])
    print("corpus self-test ok:", row_counts(a), sizes)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, os.path.dirname(here))
        self_test(os.path.join(here, "_out", "corpus-selftest"))
    else:
        sys.exit("usage: python3 perfbench/corpus.py --self-test")
