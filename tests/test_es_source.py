"""Mock-ES DataSource tests: DSL translation and end-to-end pushdown."""

import json

import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThan,
    StringContains,
)

from elastic_asset_etl_poc_spark.sources.es_source import filters_to_dsl, register_signals_es


def test_filters_to_dsl_mapping():
    dsl, unsupported = filters_to_dsl(
        [
            EqualTo(("metricset_name",), "purchase"),
            In(("service_name",), ("svc-1", "svc-2")),
            IsNotNull(("container_id",)),
            GreaterThanOrEqual(("ts",), 100),
            LessThan(("ts",), 200),
            StringContains(("service_name",), "svc"),  # not DSL-mappable
        ]
    )
    clauses = dsl["bool"]["filter"]
    assert {"term": {"metricset_name": {"value": "purchase"}}} in clauses
    assert {"terms": {"service_name": ["svc-1", "svc-2"]}} in clauses
    assert {"exists": {"field": "container_id"}} in clauses
    assert {"range": {"ts": {"gte": 100}}} in clauses
    assert {"range": {"ts": {"lt": 200}}} in clauses
    assert len(unsupported) == 1 and isinstance(unsupported[0], StringContains)


@pytest.fixture(scope="module")
def es_index(tmp_path_factory):
    d = tmp_path_factory.mktemp("es_index")
    docs = [
        {"event_id": 1, "ts": 100, "service_name": "svc-1", "metricset_name": "purchase", "container_id": "c1"},
        {"event_id": 2, "ts": 150, "service_name": "svc-2", "metricset_name": "click", "container_id": None},
        {"event_id": 3, "ts": 250, "service_name": "svc-1", "metricset_name": "purchase", "container_id": None},
        {"event_id": 4, "ts": 300, "service_name": "svc-3", "metricset_name": "purchase", "container_id": "c2"},
    ]
    # two shard files → two partitions
    (d / "shard-0.jsonl").write_text("\n".join(json.dumps(x) for x in docs[:2]))
    (d / "shard-1.jsonl").write_text("\n".join(json.dumps(x) for x in docs[2:]))
    return str(d)


def test_es_source_end_to_end_pushdown(spark, es_index):
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema("event_id bigint, ts bigint, service_name string, metricset_name string, container_id string")
        .option("path", es_index)
        .load()
    )
    out = df.filter(
        (df.metricset_name == "purchase") & (df.ts >= 150) & df.container_id.isNotNull()
    )
    rows = out.collect()
    assert [r.event_id for r in rows] == [4]
    # all three predicates were consumed by the source: the executed plan
    # has NO post-scan Filter node (Python scans don't print PushedFilters)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan signals_es" in plan
    assert "+- Filter" not in plan and "* Filter" not in plan


def test_es_source_unsupported_filter_still_correct(spark, es_index):
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema("event_id bigint, ts bigint, service_name string, metricset_name string, container_id string")
        .option("path", es_index)
        .load()
    )
    # contains() is not DSL-mappable -> Spark must re-apply it post-scan
    out = df.filter(df.service_name.contains("svc-1") & (df.ts < 200))
    assert [r.event_id for r in out.collect()] == [1]


# ---------------------------------------------------------------------------
# HTTP transport: end-to-end against a stdlib stub ES server
# ---------------------------------------------------------------------------

_HTTP_DOCS = [
    {"event_id": 1, "ts": 100, "service_name": "svc-1", "metricset_name": "purchase", "container_id": "c1"},
    {"event_id": 2, "ts": 150, "service_name": "svc-2", "metricset_name": "click", "container_id": None},
    {"event_id": 3, "ts": 250, "service_name": "svc-1", "metricset_name": "purchase", "container_id": None},
    {"event_id": 4, "ts": 300, "service_name": "svc-3", "metricset_name": "purchase", "container_id": "c2"},
    {"event_id": 5, "ts": 350, "service_name": "svc-2", "metricset_name": "purchase", "container_id": "c3"},
]


def _make_es_server(mode: str):
    """Stub ES endpoint (stdlib http.server): evaluates the posted Query
    DSL server-side over _HTTP_DOCS, honors sliced scroll (event_id %
    max == id), answers in fields-API shape, and records every request
    body so tests can assert what was pushed.

    ``mode``: 'pit' = full PIT API (open/search/close — the real-ES
    shape); 'legacy' = 404 on ``_pit`` (forces the ``_doc`` fallback);
    'stuck' = echoes sort values but IGNORES search_after (the
    infinite-loop server the advance guard must detect)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from elastic_asset_etl_poc_spark.sources.es_source import _matches

    requests: list[dict] = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = json.loads(self.rfile.read(n)) if n else {}
            requests.append({"path": self.path, "body": body})
            if self.path.split("?")[0].endswith("/_pit"):
                if mode == "legacy":
                    self._reply(404, {"error": "no such endpoint"})
                elif mode == "legacy_400":
                    # pre-PIT ES routes unknown paths through the
                    # RestController: 400 + "no handler found for uri"
                    self._reply(
                        400,
                        {"error": "no handler found for uri [/signals-test/_pit] and method [POST]"},
                    )
                elif mode == "pit_400_malformed":
                    # PIT-capable server rejecting a malformed request —
                    # same status code, entirely different meaning
                    self._reply(
                        400,
                        {"error": {"type": "illegal_argument_exception", "reason": "failed to parse keep_alive"}},
                    )
                elif mode == "pit_503":
                    self._reply(503, {"error": "circuit_breaking_exception"})
                else:
                    index = self.path.split("/")[1]
                    self._reply(200, {"id": f"pit:{index}"})
                return
            sl = body.get("slice", {"id": 0, "max": 1})
            fields = body.get("fields") or []
            docs = [
                d
                for d in _HTTP_DOCS
                if d["event_id"] % sl["max"] == sl["id"]
                and _matches(d, body.get("query", {}))
            ]
            # keyset pagination, ES wire shape: _shard_doc/_doc sort ==
            # insertion order here, hits echo their sort values,
            # search_after resumes strictly past them, size caps the page
            if body.get("sort"):
                docs.sort(key=lambda d: d["event_id"])
                sa = body.get("search_after")
                if sa is not None and mode != "stuck":
                    docs = [d for d in docs if d["event_id"] > sa[0]]
            docs = docs[: body.get("size", 10000)]
            hits = [
                {
                    "fields": {n: [d[n]] for n in fields if d.get(n) is not None},
                    "sort": [d["event_id"]],
                }
                for d in docs
            ]
            out = {"hits": {"hits": hits}}
            if "pit" in body:
                out["pit_id"] = body["pit"]["id"]
            self._reply(200, out)

        def do_DELETE(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = json.loads(self.rfile.read(n)) if n else {}
            requests.append({"path": self.path, "body": body, "method": "DELETE"})
            self._reply(200, {"succeeded": True})

        def _reply(self, code: int, payload: dict):
            out = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, requests


def _searches(requests):
    return [r for r in requests if r["path"].split("?")[0].endswith("/_search")]


def _pit_opens(requests):
    return [
        r
        for r in requests
        if r["path"].split("?")[0].endswith("/_pit") and r.get("method") != "DELETE"
    ]


@pytest.fixture(params=["pit"])
def es_http_server(request):
    srv, requests = _make_es_server(request.param)
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", requests
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture()
def es_http_server_legacy():
    srv, requests = _make_es_server("legacy")
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", requests
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture()
def es_http_server_stuck():
    srv, requests = _make_es_server("stuck")
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", requests
    finally:
        srv.shutdown()
        srv.server_close()


def test_es_source_http_pushdown_round_trip(spark, es_http_server):
    """The full wire path: Spark filters → Query DSL → HTTP _search →
    sliced fields-API hits → rows.  The stub filters SERVER-side only,
    so a translation bug yields wrong rows, and the recorded request
    bodies prove range/term/exists reached the wire."""
    url, requests = es_http_server
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema("event_id bigint, ts bigint, service_name string, metricset_name string, container_id string")
        .option("url", url)
        .option("index", "signals-test")
        .option("n_slices", "2")
        .load()
    )
    out = df.filter(
        (df.metricset_name == "purchase") & (df.ts >= 150) & df.container_id.isNotNull()
    )
    assert sorted(r.event_id for r in out.collect()) == [4, 5]

    # two slices → a PIT open each, then one _search each carrying the
    # full pushed DSL inside the PIT context
    opens = _pit_opens(requests)
    searches = _searches(requests)
    assert len(opens) == 2 and all(
        r["path"].startswith("/signals-test/_pit") for r in opens
    )
    assert len(searches) == 2
    assert {r["body"]["slice"]["id"] for r in searches} == {0, 1}
    for r in searches:
        assert r["path"] == "/_search"  # PIT searches carry no index path
        assert r["body"]["pit"]["id"] == "pit:signals-test"
        assert r["body"]["_source"] is False  # fields API, reference shape
        clauses = r["body"]["query"]["bool"]["filter"]
        assert {"term": {"metricset_name": {"value": "purchase"}}} in clauses
        assert {"range": {"ts": {"gte": 150}}} in clauses
        assert {"exists": {"field": "container_id"}} in clauses


def test_es_source_http_terms_and_unsupported(spark, es_http_server):
    """IN-list pushes as terms; a contains() predicate is NOT mappable,
    so Spark re-applies it post-scan — rows stay correct either way."""
    url, requests = es_http_server
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema("event_id bigint, ts bigint, service_name string, metricset_name string, container_id string")
        .option("url", url)
        .option("n_slices", "3")
        .load()
    )
    out = df.filter(
        df.service_name.isin("svc-1", "svc-2") & df.service_name.contains("-2")
    )
    assert sorted(r.event_id for r in out.collect()) == [2, 5]
    terms = [
        c
        for r in _searches(requests)
        for c in r["body"]["query"]["bool"]["filter"]
        if "terms" in c
    ]
    assert terms and all(
        sorted(t["terms"]["service_name"]) == ["svc-1", "svc-2"] for t in terms
    )


def test_es_source_http_search_after_pagination(spark, es_http_server):
    """O4 keyset pagination (collectServicesFromSummaries.ts:51-53,76-84):
    page_size=1 forces every slice through multiple search_after pages
    (3+ per slice), rows arrive complete and exactly-once, and the
    recorded bodies show the keyset advancing monotonically."""
    url, requests = es_http_server
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema(
            "event_id bigint, ts bigint, service_name string,"
            " metricset_name string, container_id string"
        )
        .option("url", url)
        .option("index", "signals-test")
        .option("n_slices", "1")
        .option("page_size", "1")
        .load()
    )
    assert sorted(r.event_id for r in df.collect()) == [1, 2, 3, 4, 5]
    # 5 full pages + 1 short (empty) page = 6 searches on the one slice,
    # all inside one PIT (opened once, closed once)
    searches = _searches(requests)
    assert len(searches) == 6
    assert len(_pit_opens(requests)) == 1
    assert sum(1 for r in requests if r.get("method") == "DELETE") == 1
    keys = [r["body"].get("search_after") for r in searches]
    assert keys[0] is None
    assert [k[0] for k in keys[1:]] == [1, 2, 3, 4, 5]
    for r in searches:
        # _shard_doc is ES's documented tiebreak sort for slicing +
        # search_after inside a PIT (unique and stable, unlike _doc)
        assert r["body"]["sort"] == [{"_shard_doc": "asc"}]
        assert r["body"]["pit"]["id"] == "pit:signals-test"
        assert r["body"]["size"] == 1


def test_es_source_http_pagination_with_slices_and_filters(spark, es_http_server):
    """Keyset pagination composes with sliced scroll AND server-side DSL:
    2 slices × page_size=1, range-filtered — each slice pages through
    only ITS matching docs, union is exact."""
    url, requests = es_http_server
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema(
            "event_id bigint, ts bigint, service_name string,"
            " metricset_name string, container_id string"
        )
        .option("url", url)
        .option("index", "signals-test")
        .option("n_slices", "2")
        .option("page_size", "1")
        .load()
    )
    out = df.filter(df.ts >= 150)
    assert sorted(r.event_id for r in out.collect()) == [2, 3, 4, 5]
    # slice 0 matches {2,4}, slice 1 matches {3,5}: 3 searches each
    by_slice = {}
    for r in _searches(requests):
        by_slice.setdefault(r["body"]["slice"]["id"], []).append(r)
    assert {k: len(v) for k, v in by_slice.items()} == {0: 3, 1: 3}


def test_es_source_http_legacy_fallback_without_pit(spark, es_http_server_legacy):
    """A server without the PIT API (404 on _pit) degrades to per-index
    ``_doc`` search — rows stay complete and exactly-once on the stub
    (where _doc IS a total order)."""
    url, requests = es_http_server_legacy
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema(
            "event_id bigint, ts bigint, service_name string,"
            " metricset_name string, container_id string"
        )
        .option("url", url)
        .option("index", "signals-test")
        .option("n_slices", "1")
        .option("page_size", "2")
        .load()
    )
    assert sorted(r.event_id for r in df.collect()) == [1, 2, 3, 4, 5]
    searches = _searches(requests)
    assert len(_pit_opens(requests)) == 1  # tried PIT, got 404
    assert len(searches) == 3  # pages of 2, 2, 1 (short = last)
    for r in searches:
        assert r["path"] == "/signals-test/_search"
        assert r["body"]["sort"] == [{"_doc": "asc"}]
        assert "pit" not in r["body"]


def test_es_source_http_stuck_keyset_raises(spark, es_http_server_stuck):
    """A server that echoes sort values but ignores search_after would
    loop forever yielding duplicates; the reader detects the
    non-advancing keyset and aborts loudly instead."""
    url, _ = es_http_server_stuck
    register_signals_es(spark)
    df = (
        spark.read.format("signals_es")
        .schema(
            "event_id bigint, ts bigint, service_name string,"
            " metricset_name string, container_id string"
        )
        .option("url", url)
        .option("index", "signals-test")
        .option("n_slices", "1")
        .option("page_size", "1")
        .load()
    )
    with pytest.raises(Exception, match="did not advance"):
        df.collect()


def test_open_pit_falls_back_only_on_endpoint_absent():
    """404/405 on ``_pit`` — or a 400 whose body carries the legacy
    router's "no handler found" marker — mean "no PIT API" → legacy
    fallback is safe; ANYTHING else (a marker-less 400 from a
    PIT-capable cluster rejecting a malformed request, 429 throttle,
    503 breaker, 401/403 auth) must re-raise — on a real multi-shard
    cluster the legacy ``_doc`` path can silently skip/duplicate rows,
    so a failure has to be loud and retryable, never a quiet
    downgrade."""
    import urllib.error

    from elastic_asset_etl_poc_spark.sources.es_source import (
        SignalsESReader,
        _SlicePartition,
    )

    # endpoint absent → None (legacy path)
    srv, _ = _make_es_server("legacy")
    try:
        p = _SlicePartition(
            url=f"http://127.0.0.1:{srv.server_address[1]}",
            index="signals-test", slice_id=0, n_slices=1,
        )
        assert SignalsESReader._open_pit(p, "1m") is None
    finally:
        srv.shutdown()
        srv.server_close()

    # pre-PIT router 400 ("no handler found" marker in the body) → the
    # endpoint-absent signal → legacy fallback
    srv, _ = _make_es_server("legacy_400")
    try:
        p = _SlicePartition(
            url=f"http://127.0.0.1:{srv.server_address[1]}",
            index="signals-test", slice_id=0, n_slices=1,
        )
        assert SignalsESReader._open_pit(p, "1m") is None
    finally:
        srv.shutdown()
        srv.server_close()

    # 400 WITHOUT the marker = a PIT-capable cluster rejecting a
    # malformed request → must re-raise, never silently downgrade
    srv, requests400 = _make_es_server("pit_400_malformed")
    try:
        p = _SlicePartition(
            url=f"http://127.0.0.1:{srv.server_address[1]}",
            index="signals-test", slice_id=0, n_slices=1,
        )
        with pytest.raises(urllib.error.HTTPError):
            SignalsESReader._open_pit(p, "1m")
        assert not _searches(requests400)
    finally:
        srv.shutdown()
        srv.server_close()

    # transient server error → loud re-raise, NOT a legacy downgrade
    srv, requests = _make_es_server("pit_503")
    try:
        p = _SlicePartition(
            url=f"http://127.0.0.1:{srv.server_address[1]}",
            index="signals-test", slice_id=0, n_slices=1,
        )
        with pytest.raises(urllib.error.HTTPError):
            SignalsESReader._open_pit(p, "1m")
        # and nothing fell through to a per-index _search
        assert not _searches(requests)
    finally:
        srv.shutdown()
        srv.server_close()
