"""Mock-Elasticsearch DataSource with Query-DSL filter pushdown.

SURVEY.md §4: attaching a live ES source needs a DataSourceV2 with
``SupportsPushDownFilters`` mapping Spark filters back onto the Query DSL
(``range``/``term``/``terms``/``exists``) — the exact *inverse* of the
reference's server-side query building (§2.2).  This module implements
that contract with Spark 4's Python Data Source API against either a
directory of JSON-lines "indices" (``option("path", dir)``) or an HTTP
``_search`` endpoint speaking the ES wire shape (``option("url", ...)``
— sliced-scroll partitions, ``_source:false`` + fields-API reads, DSL
filtering server-side).  The container has no live ES; the HTTP path is
exercised end-to-end against a stdlib stub server in
tests/test_es_source.py, and a real cluster differs only in pagination.

Pushdown mapping (the §2.2 table, inverted):
    EqualTo(f, v)           → {"term":  {f: {"value": v}}}           (F2)
    In(f, vs)               → {"terms": {f: [...]}}                   (F3)
    IsNotNull(f)            → {"exists": {"field": f}}                (F4)
    GreaterThan[OrEqual]/LessThan[OrEqual] → {"range": {f: {...}}}    (F1)
Anything else is left for Spark to evaluate (pushFilters returns it).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType


def _http_json(method: str, url: str, body: dict | None) -> dict:
    """One JSON round-trip (stdlib urllib — executors carry no extra deps).

    Raises urllib.error.HTTPError on non-2xx so callers can distinguish
    "endpoint absent" (PIT fallback) from transport failure."""
    import urllib.request

    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(
        url,
        data=data,
        headers={"Content-Type": "application/json"},
        method=method,
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


def filters_to_dsl(filters: list[Filter]) -> tuple[dict, list[Filter]]:
    """Translate Spark filters into an ES ``bool.filter`` clause list.

    Returns (dsl, unsupported).  Attribute paths join with '.' — dotted
    flattened names, exactly the reference's field addressing.
    """
    clauses: list[dict] = []
    unsupported: list[Filter] = []
    for f in filters:
        col = ".".join(f.attribute) if hasattr(f, "attribute") else None
        if isinstance(f, EqualTo):
            clauses.append({"term": {col: {"value": f.value}}})
        elif isinstance(f, In):
            clauses.append({"terms": {col: list(f.value)}})
        elif isinstance(f, IsNotNull):
            clauses.append({"exists": {"field": col}})
        elif isinstance(f, GreaterThan):
            clauses.append({"range": {col: {"gt": f.value}}})
        elif isinstance(f, GreaterThanOrEqual):
            clauses.append({"range": {col: {"gte": f.value}}})
        elif isinstance(f, LessThan):
            clauses.append({"range": {col: {"lt": f.value}}})
        elif isinstance(f, LessThanOrEqual):
            clauses.append({"range": {col: {"lte": f.value}}})
        else:
            unsupported.append(f)
    return {"bool": {"filter": clauses}}, unsupported


def _matches(doc: dict, dsl: dict) -> bool:
    """Server-side evaluation of the pushed DSL (ES filter-context
    semantics: missing field fails term/terms/range/exists)."""
    for clause in dsl.get("bool", {}).get("filter", []):
        if "term" in clause:
            ((col, spec),) = clause["term"].items()
            if doc.get(col) != spec["value"]:
                return False
        elif "terms" in clause:
            ((col, values),) = clause["terms"].items()
            if doc.get(col) not in values:
                return False
        elif "exists" in clause:
            if doc.get(clause["exists"]["field"]) is None:
                return False
        elif "range" in clause:
            ((col, spec),) = clause["range"].items()
            v = doc.get(col)
            if v is None:
                return False
            if "gt" in spec and not v > spec["gt"]:
                return False
            if "gte" in spec and not v >= spec["gte"]:
                return False
            if "lt" in spec and not v < spec["lt"]:
                return False
            if "lte" in spec and not v <= spec["lte"]:
                return False
    return True


@dataclass
class _ShardPartition(InputPartition):
    path: str


@dataclass
class _SlicePartition(InputPartition):
    """One ES *slice* of a ``_search`` — the sliced-scroll parallelism
    model: each Spark task asks the server for ``slice {id, max}`` so N
    tasks stream N disjoint document subsets concurrently."""

    url: str
    index: str
    slice_id: int
    n_slices: int


class SignalsESReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.dsl: dict = {"bool": {"filter": []}}

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        self.dsl, unsupported = filters_to_dsl(filters)
        yield from unsupported

    def partitions(self):
        if "url" in self.options:
            n = int(self.options.get("n_slices", "2"))
            return [
                _SlicePartition(
                    self.options["url"],
                    self.options.get("index", "signals"),
                    i,
                    n,
                )
                for i in range(n)
            ]
        root = self.options["path"]
        # one partition per shard file — the ES slice/shard parallelism model
        return [
            _ShardPartition(os.path.join(root, f))
            for f in sorted(os.listdir(root))
            if f.endswith(".jsonl")
        ]

    def read(self, partition) -> Iterator[tuple]:
        if partition is None:  # empty index: Spark calls read(None) once
            return
        names = self.schema.fieldNames()
        if isinstance(partition, _SlicePartition):
            yield from self._read_http(partition, names)
            return
        with open(partition.path) as fh:
            for line in fh:
                doc = json.loads(line)
                if _matches(doc, self.dsl):
                    yield tuple(doc.get(n) for n in names)

    def _read_http(self, p: _SlicePartition, names: list[str]) -> Iterator[tuple]:
        """POST the pushed DSL to ``{url}/{index}/_search`` and stream the
        hits — the reference's read shape exactly: ``_source: false`` +
        the *fields API* (every value comes back as an array,
        `lib/collectServicesFromSummaries.ts:23-28`), unwrapped with
        singleItem semantics (`:114-119`).  Filtering happens SERVER-side
        via the pushed ``query``; this client does not re-filter.

        Pagination is ``search_after`` keyset — the reference's O4 loop
        (`lib/collectServicesFromSummaries.ts:51-53,76-84`) — run inside
        a point-in-time: each slice opens a PIT and sorts on
        ``_shard_doc``, ES's documented slicing+search_after pattern.  A
        plain ``_doc`` sort would be per-shard ids (non-unique, unstable
        across refreshes — resuming could skip or duplicate documents),
        and real ES rejects ``slice`` in a plain _search outside
        scroll/PIT contexts; the PIT pins a consistent snapshot and
        makes the keyset globally total.  Keyset (not from/size) is the
        only pagination that stays O(page) at any depth; each Spark
        slice pages independently, so a 10⁹-doc index streams through N
        tasks × bounded pages with constant memory.  Servers without the
        PIT API (dev stubs, pre-7.10) fall back to per-index ``_doc``
        search — correct only where ``_doc`` is a total order (single
        shard / stub)."""
        page_size = int(self.options.get("page_size", "10000"))
        keep_alive = self.options.get("pit_keep_alive", "1m")
        pit_id = self._open_pit(p, keep_alive)
        base = {
            "query": self.dsl,
            "slice": {"id": p.slice_id, "max": p.n_slices},
            "_source": False,
            "fields": names,
            "size": page_size,
        }
        if pit_id is not None:
            base["sort"] = [{"_shard_doc": "asc"}]
            url = f"{p.url}/_search"  # PIT searches carry no index path
        else:
            base["sort"] = [{"_doc": "asc"}]
            url = f"{p.url}/{p.index}/_search"
        search_after: list | None = None
        try:
            while True:
                body = dict(base)
                if pit_id is not None:
                    body["pit"] = {"id": pit_id, "keep_alive": keep_alive}
                if search_after is not None:
                    body["search_after"] = search_after
                payload = _http_json("POST", url, body)
                # ES may refresh the PIT id between pages; follow it
                pit_id = payload.get("pit_id", pit_id)
                hits = payload.get("hits", {}).get("hits", [])
                for hit in hits:
                    fields = hit.get("fields", {})
                    yield tuple(
                        (fields.get(n) or [None])[0]  # singleItem
                        for n in names
                    )
                if len(hits) < page_size:
                    return  # short page = last page
                prev, search_after = search_after, hits[-1].get("sort")
                if search_after is None:
                    return  # server doesn't echo sort values: single-page
                if search_after == prev:
                    # a server that echoes sort values but ignores
                    # search_after would otherwise loop forever, yielding
                    # duplicate rows each iteration
                    raise RuntimeError(
                        f"search_after did not advance past {prev!r} on "
                        f"{url} (slice {p.slice_id}/{p.n_slices}); server "
                        "is ignoring the keyset — aborting to avoid "
                        "duplicate rows"
                    )
        finally:
            if pit_id is not None:
                self._close_pit(p, pit_id)

    @staticmethod
    def _open_pit(p: _SlicePartition, keep_alive: str) -> str | None:
        """POST ``{index}/_pit`` → pit id; None ONLY when the server has
        no PIT endpoint (404/405, or a 400 whose body carries the legacy
        router's "no handler found" marker ⇒ legacy per-index ``_doc``
        search, which is correct solely on single-shard/stub servers).
        400 is otherwise AMBIGUOUS — a PIT-capable cluster also answers
        400 to a malformed request (bad keep_alive, bad index expression),
        and silently downgrading there is exactly the skip/duplicate risk
        this fallback gate exists to prevent — so a 400 without the
        marker re-raises, as do transient 429/503, auth 401/403, and
        5xx: a loud retryable failure is the only safe answer on a real
        multi-shard cluster."""
        import urllib.error

        try:
            payload = _http_json(
                "POST", f"{p.url}/{p.index}/_pit?keep_alive={keep_alive}", None
            )
        except urllib.error.HTTPError as e:
            if e.code in (404, 405):
                return None  # endpoint absent: pre-PIT server / stub
            if e.code == 400:
                try:
                    body = e.read().decode("utf-8", "replace").lower()
                except Exception:  # noqa: BLE001 — unreadable body
                    body = ""
                # pre-PIT Elasticsearch routes unknown paths through the
                # RestController, which answers 400 with "no handler
                # found for uri [..._pit]"; that marker (not the status
                # alone) is the endpoint-absent signal
                if "no handler" in body:
                    return None
                raise
            raise
        return payload.get("id")

    @staticmethod
    def _close_pit(p: _SlicePartition, pit_id: str) -> None:
        import urllib.error

        try:
            _http_json("DELETE", f"{p.url}/_pit", {"id": pit_id})
        except urllib.error.HTTPError:
            pass  # PIT expires via keep_alive anyway


class SignalsESDataSource(DataSource):
    """``spark.read.format("signals_es").schema(...).option("path", dir)``"""

    @classmethod
    def name(cls) -> str:
        return "signals_es"

    def schema(self) -> str:
        # default signal-document schema; callers usually pass .schema(...)
        return "event_id bigint, ts bigint, service_name string, metricset_name string, container_id string"

    def reader(self, schema: StructType) -> SignalsESReader:
        return SignalsESReader(schema, dict(self.options))


def register_signals_es(spark) -> None:
    spark.dataSource.register(SignalsESDataSource)
