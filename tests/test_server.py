"""HTTP facade (REST parity): query POST, ETag/304, cancel DELETE, task
submit/status, error envelope over the wire. Multi-value dimension
groupBy. ETag invalidation on data change."""

import json
import urllib.error
import urllib.request

import pytest

from pyspark.sql import functions as F

from coolplaydruid_spark.engine import DruidEngine
from coolplaydruid_spark.server.http import DruidHttpServer
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def server(engine):
    srv = DruidHttpServer(engine, port=0).start()
    yield srv
    srv.shutdown()


def _req(srv, method, path, body=None, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode() if body is not None else None,
        method=method,
        headers=headers or {},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


TS_QUERY = {
    "queryType": "timeseries",
    "dataSource": "events",
    "granularity": "day",
    "aggregations": [{"type": "count", "name": "rows"}],
    "intervals": ["2024-01-01T00:00:00/2024-01-04T00:00:00"],
}


def test_query_roundtrip_and_etag(server):
    status, headers, body = _req(server, "POST", "/druid/v2", TS_QUERY)
    assert status == 200
    rows = json.loads(body)
    assert len(rows) == 3 and rows[0]["result"]["rows"] > 0
    etag = headers.get("ETag")
    assert etag

    # replay with If-None-Match → 304, no body
    status2, headers2, body2 = _req(
        server, "POST", "/druid/v2", TS_QUERY, {"If-None-Match": etag}
    )
    assert status2 == 304 and body2 == b""

    # different query → different etag
    q2 = dict(TS_QUERY, granularity="hour")
    _, headers3, _ = _req(server, "POST", "/druid/v2", q2)
    assert headers3.get("ETag") != etag


def test_error_envelope_http_500(server):
    status, _, body = _req(server, "POST", "/druid/v2", {"queryType": "bogus"})
    assert status == 500
    env = json.loads(body)
    assert set(env) == {"error", "errorMessage", "errorClass", "host"}


def test_cancel_endpoint(server):
    status, _, body = _req(server, "DELETE", "/druid/v2/some-query-id")
    assert status == 202
    assert json.loads(body) == {"cancelled": "some-query-id"}


def test_task_submit_and_status(server, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("http_ingest") / "tbl")
    from tests.conftest import SF_DIR

    status, _, body = _req(
        server,
        "POST",
        "/druid/indexer/v1/task",
        {
            "type": "index",
            "spec": {
                "source": {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
                "destPath": dest,
                "timeColumn": "ts",
            },
        },
    )
    assert status == 200
    task_id = json.loads(body)["task"]
    status, _, body = _req(server, "GET", f"/druid/indexer/v1/task/{task_id}/status")
    assert status == 200
    assert json.loads(body)["status"]["status"] == "SUCCESS"

    status, _, _ = _req(server, "GET", "/druid/indexer/v1/task/nope/status")
    assert status == 404


def test_health(server):
    status, _, body = _req(server, "GET", "/status")
    assert status == 200 and json.loads(body)["status"] == "ok"


def test_multivalue_dimension_groupby(spark, engine):
    """Multi-value dims: a row groups once per array element (public
    Druid 0.12 semantics)."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", ["a", "b"]),
            (2, "2024-01-01 01:00:00", ["b"]),
            (3, "2024-01-01 02:00:00", None),
        ],
        "id long, ts string, tags array<string>",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    engine.catalog.register("mv_events", df=df, time_column="ts")
    rows = engine.plan(
        {
            "queryType": "groupBy",
            "dataSource": "mv_events",
            "granularity": "all",
            "dimensions": ["tags"],
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
        }
    ).collect()
    got = {r["tags"]: r["n"] for r in rows}
    assert got == {"a": 1, "b": 2, None: 1}


def test_execute_stream_scan_matches_collect(engine):
    """Streamed scan (toLocalIterator) must yield exactly the rows the
    collected path returns — and be a true generator, not a list."""
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
    }
    gen = engine.execute_stream(q)
    assert not isinstance(gen, list)
    streamed = list(gen)
    collected = engine.execute(q)
    assert streamed == collected
    assert len(streamed) > 100  # no implicit limit on the streamed path


def test_http_scan_streams_chunked(server):
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
    }
    status, headers, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200
    assert headers.get("Transfer-Encoding") == "chunked"
    rows = json.loads(body)
    assert len(rows) > 0 and "event_id" in rows[0]


def test_http_scan_full_table_unbounded(server, engine):
    """An unbounded scan of the WHOLE events table over HTTP: every row
    arrives through the chunked streamed path (toLocalIterator — one
    partition resident on the driver at a time, never the full table),
    so the payload size is bounded by the client, not driver memory."""
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["1970-01-01T00:00:00/2100-01-01T00:00:00"],
    }
    status, headers, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200
    assert headers.get("Transfer-Encoding") == "chunked"
    rows = json.loads(body)
    assert len(rows) == engine.catalog.table("events").count()


def test_http_scan_bad_spec_still_enveloped(server):
    q = {
        "queryType": "scan",
        "dataSource": "no_such_table",
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
    }
    status, _, body = _req(server, "POST", "/druid/v2", q)
    assert status == 500
    assert "error" in json.loads(body)


def test_http_scan_plans_once(server, engine, monkeypatch):
    """One HTTP scan plans the query once: execute_stream plans before it
    returns, so the handler needs no separate plan for error envelopes."""
    calls = []
    plan = engine.plan
    monkeypatch.setattr(engine, "plan", lambda q: calls.append(q) or plan(q))
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id"],
        "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
    }
    status, _, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200 and json.loads(body)
    assert len(calls) == 1


def test_http_scan_coalesces_stream_writes(engine, monkeypatch):
    """A streamed full-table scan goes out in ~64 KiB chunks, not one
    write (and, with Nagle off, one packet) per row."""
    from coolplaydruid_spark.server import http

    writes: list = []
    make_handler = http.make_handler

    def counting(engine_):
        class Handler(make_handler(engine_)):
            def setup(self):
                super().setup()
                write = self.wfile.write
                self.wfile.write = lambda b: writes.append(len(b)) or write(b)

        return Handler

    monkeypatch.setattr(http, "make_handler", counting)
    srv = DruidHttpServer(engine, port=0).start()
    try:
        q = {
            "queryType": "scan",
            "dataSource": "events",
            "columns": ["event_id", "event_type"],
            "intervals": ["1970-01-01T00:00:00/2100-01-01T00:00:00"],
        }
        status, headers, body = _req(srv, "POST", "/druid/v2", q)
    finally:
        srv.shutdown()
    assert status == 200 and headers.get("Transfer-Encoding") == "chunked"
    rows = json.loads(body)
    assert len(rows) == engine.catalog.table("events").count()
    assert len(writes) <= 2 + sum(writes) // http._CHUNK_BYTES  # noqa: SLF001
    assert len(writes) * 100 < len(rows)


def test_cached_post_keepalive_no_ack_stall(server, engine):
    """Sequential cached POSTs on one keep-alive connection: each answer
    arrives without waiting for the client's delayed ACK (~40 ms), and
    the 200 body is execute_json's answer byte for byte."""
    import http.client
    import statistics
    import time

    q = json.dumps(dict(TS_QUERY, granularity="hour"))
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=120)
    try:
        def post():
            conn.request("POST", "/druid/v2", q, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, resp.read()

        post()  # fills the result cache
        ms = []
        for _ in range(20):
            t0 = time.perf_counter()
            status, body = post()
            ms.append((time.perf_counter() - t0) * 1000.0)
            assert status == 200
    finally:
        conn.close()
    assert statistics.median(ms) < 20.0, ms
    assert body == engine.execute_json(q).encode()


def test_cached_http_post_hashes_once(server, engine, monkeypatch):
    """A cached 200 computes the ETag once: the handler's ETag is also
    the result-cache key."""
    _req(server, "POST", "/druid/v2", TS_QUERY)  # fills the result cache
    calls = []
    etag = engine.etag
    monkeypatch.setattr(engine, "etag", lambda q: calls.append(q) or etag(q))
    status, headers, body = _req(server, "POST", "/druid/v2", TS_QUERY)
    assert status == 200 and headers.get("ETag") and json.loads(body)
    assert engine.metrics()[-1]["cacheHit"]
    assert len(calls) == 1


def _count_query(name, **context):
    return {
        "queryType": "timeseries",
        "dataSource": name,
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        "context": {"skipEmptyBuckets": True, **context},
    }


def test_result_cache_hits_and_invalidates(engine, tmp_path):
    """useCache/populateCache: the second identical query is served
    from the cache. Replacing the table's files without re-registering
    keeps the old snapshot (same ETag, same answer); register() changes
    both."""
    import pyarrow.parquet as pq

    src = tmp_path / "cache_tbl.parquet"
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(events, src)
    engine.catalog.register("cache_tbl", path=str(src), time_column="ts",
                            as_view=False)
    q = _count_query("cache_tbl")
    tag = engine.etag(q)
    first = engine.execute(q)
    assert first[0]["result"]["n"] == events.num_rows
    assert engine.execute(q) == first
    assert engine.metrics()[-1]["cacheHit"]
    # bypass still correct
    assert engine.execute(dict(q, context={"useCache": False})) == first

    pq.write_table(events.slice(0, 100), src)
    assert engine.etag(q) == tag
    assert engine.execute(q) == first

    engine.catalog.register("cache_tbl", path=str(src), time_column="ts",
                            as_view=False)
    assert engine.etag(q) != tag
    assert engine.execute(q)[0]["result"]["n"] == 100
    assert not engine.metrics()[-1]["cacheHit"]


def test_execute_rows_do_not_alias_the_cache(engine):
    """execute() hands out rows the result cache does not share: editing
    them, after the miss that fills the cache or after a hit, leaves the
    next hit's answer intact."""
    import copy

    q = dict(_count_query("events"), granularity="day")
    first = engine.execute(q)
    expected = copy.deepcopy(first)
    first[0]["result"]["n"] = -1
    hit = engine.execute(q)
    assert engine.metrics()[-1]["cacheHit"]
    assert hit == expected
    hit[0]["result"]["n"] = -2
    hit.clear()
    assert engine.execute(q) == expected
    assert engine.metrics()[-1]["cacheHit"]


def test_append_is_published_by_register_ingested_never_stale(spark, tmp_path):
    """An append alone is invisible (the cached answer stays valid for
    the registered snapshot); register_ingested publishes it, and the
    next query answers from the appended table rather than a cached
    answer of the old one."""
    from coolplaydruid_spark.catalog import Catalog
    from coolplaydruid_spark.sources import batch

    eng = DruidEngine(spark, Catalog(spark))
    table = str(tmp_path / "live")
    src = {"format": "parquet", "path": f"{SF_DIR}/events.parquet"}
    batch.index_task(spark, src, table, time_column="ts")
    batch.register_ingested(eng.catalog, "live_tbl", table, "ts")
    q = _count_query("live_tbl")
    first = eng.execute(q)
    n = first[0]["result"]["n"]

    batch.append_task(spark, src, table, time_column="ts")
    assert eng.execute(q) == first
    batch.register_ingested(eng.catalog, "live_tbl", table, "ts")
    assert eng.execute(q)[0]["result"]["n"] == 2 * n


def test_etag_ignores_answer_free_context(engine):
    """queryId/timeout/priority/useCache/populateCache cannot change the
    answer, so they stay out of the ETag: a per-request queryId still
    hits the result cache."""
    a = _count_query("events", queryId="cache-a")
    b = _count_query("events", queryId="cache-b", timeout=60000, priority=1)
    assert engine.etag(a) == engine.etag(b)
    assert engine.etag(a) != engine.etag(_count_query("events", grandTotal=True))
    first = engine.execute(a)
    assert engine.execute(b) == first
    assert engine.metrics("cache-b")[-1]["cacheHit"]


def test_etag_does_no_filesystem_io(engine, monkeypatch):
    import os

    def boom(*args, **kwargs):
        raise AssertionError("etag() touched the filesystem")

    monkeypatch.setattr(os, "walk", boom)
    monkeypatch.setattr(os.path, "getmtime", boom)
    monkeypatch.setattr(os.path, "isdir", boom)
    assert engine.etag(TS_QUERY)


def _stress(fn, items, workers=8):
    """Run fn over items on more threads than cores with a short GIL
    switch interval, so unguarded check-then-act races show up."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(workers) as pool:
            return list(pool.map(fn, items, timeout=300))
    finally:
        sys.setswitchinterval(interval)


def test_result_cache_is_thread_safe(spark, catalog):
    """Handler threads share the result cache; concurrent inserts into a
    full cache each evict an entry without tripping over each other."""
    eng = DruidEngine(spark, catalog, result_cache_entries=2)
    queries = [
        dict(TS_QUERY, intervals=[f"2024-01-{d:02d}T00:00:00/2024-01-{d + 1:02d}T00:00:00"])
        for d in range(1, 13)
    ]
    results = _stress(eng.execute, queries + queries)
    assert all(len(r) == 1 for r in results)
    assert results[:12] == results[12:]
    assert len(eng.metrics()) == 24 and all(m["success"] for m in eng.metrics())


def test_lazy_frame_loads_once_per_snapshot(spark, monkeypatch):
    """Concurrent first reads of a lazily registered table share one
    frame build; re-registration publishes a new snapshot that builds
    its own."""
    from coolplaydruid_spark.catalog import Catalog, DataSource

    loads = []
    load = DataSource.load

    def counting_load(self, spark_):
        loads.append(self.name)
        return load(self, spark_)

    monkeypatch.setattr(DataSource, "load", counting_load)
    cat = Catalog(spark)
    cat.register("lazy_tbl", path=f"{SF_DIR}/events.parquet", time_column="ts",
                 as_view=False)
    frames = _stress(cat.table, ["lazy_tbl"] * 16)
    assert loads == ["lazy_tbl"] and all(f is frames[0] for f in frames)
    cat.register("lazy_tbl", path=f"{SF_DIR}/events.parquet", time_column="ts",
                 as_view=False)
    assert cat.table("lazy_tbl") is not frames[0] and len(loads) == 2


def test_max_results_resource_limit(engine):
    """context.maxResults enforces the reference's groupBy resource
    limit (query-module-overview.md:86): overflow fails with the
    documented 'Resource limit exceeded' envelope; within-limit queries
    pass through untouched."""
    import pytest as _pt

    from coolplaydruid_spark.errors import DruidQueryError

    q = {
        "queryType": "groupBy", "dataSource": "events", "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        "context": {"maxResults": 3, "useCache": False, "populateCache": False},
    }
    with _pt.raises(DruidQueryError) as ei:
        engine.execute(q)
    assert ei.value.envelope()["error"] == "Resource limit exceeded"

    q["context"]["maxResults"] = 100000
    assert len(engine.execute(q)) > 3


# ---- /druid/v2/sql (Druid SQL over HTTP) ---------------------------------


def test_sql_endpoint_object_format(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT event_type, count(*) AS n FROM events "
                 "GROUP BY event_type ORDER BY event_type",
    })
    assert status == 200
    rows = json.loads(body)
    assert len(rows) >= 2
    assert set(rows[0]) == {"event_type", "n"}


def test_sql_endpoint_array_format_with_header(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT event_type, count(*) AS n FROM events "
                 "GROUP BY event_type ORDER BY event_type",
        "resultFormat": "array",
        "header": True,
    })
    assert status == 200
    rows = json.loads(body)
    assert rows[0] == ["event_type", "n"]
    assert all(len(r) == 2 for r in rows[1:])


def test_sql_endpoint_positional_parameters(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT count(*) AS n FROM events WHERE event_type = ?",
        "parameters": [{"type": "VARCHAR", "value": "click"}],
    })
    assert status == 200
    rows = json.loads(body)
    assert len(rows) == 1 and rows[0]["n"] > 0


def test_sql_endpoint_druid_time_function(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT TIME_FLOOR(ts, 'P1D') AS d, count(*) AS n "
                 "FROM events GROUP BY 1 ORDER BY 1 LIMIT 3",
    })
    assert status == 200
    assert len(json.loads(body)) == 3


def test_sql_endpoint_error_envelope(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT * FROM no_such_table",
    })
    assert status == 500
    err = json.loads(body)
    assert "error" in err and "errorMessage" in err


def test_sql_endpoint_bad_result_format(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 1", "resultFormat": "parquet",
    })
    assert status == 500
    assert "resultFormat" in json.loads(body)["errorMessage"]


def test_sql_endpoint_lines_and_csv_formats(server):
    q = ("SELECT event_type, count(*) AS n FROM events "
         "GROUP BY event_type ORDER BY event_type")
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "objectLines"})
    assert status == 200
    objs = [json.loads(ln) for ln in body.decode().splitlines() if ln]
    assert len(objs) >= 2 and set(objs[0]) == {"event_type", "n"}

    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "arrayLines"})
    arrs = [json.loads(ln) for ln in body.decode().splitlines() if ln]
    assert arrs == [[o["event_type"], o["n"]] for o in objs]

    status, headers, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "csv", "header": True})
    assert headers.get("Content-Type") == "text/csv"
    lines = body.decode().splitlines()
    assert lines[0] == "event_type,n"
    assert len(lines) == len(objs) + 1


def test_sql_endpoint_csv_quoting(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 'a,b' AS x, 'q\"t' AS y, NULL AS z",
        "resultFormat": "csv"})
    assert status == 200
    assert body.decode().splitlines()[0] == '"a,b","q""t",'


def test_sql_endpoint_duplicate_output_names_positional(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 1 AS x, 2 AS x", "resultFormat": "array"})
    assert status == 200
    assert json.loads(body) == [[1, 2]]


def test_sql_endpoint_timestamp_parameter_millis(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT count(*) AS n FROM events WHERE ts >= ?",
        # 2024-01-01T00:00:00Z as epoch millis (Druid's TIMESTAMP param form)
        "parameters": [{"type": "TIMESTAMP", "value": 1704067200000}]})
    assert status == 200
    assert json.loads(body)[0]["n"] > 0


def test_sql_endpoint_truncate_one_arg(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT TRUNCATE(-12.789) AS a, TRUNCATE(-12.789, 2) AS b"})
    assert status == 200
    assert json.loads(body) == [{"a": -12.0, "b": -12.78}]


def test_query_metrics_emitted(engine):
    """emitLogsAndMetrics analogue (query/query-internal-procedure.md:
    143-189): one metrics row per execute — success, failure, cache hit."""
    q = {
        "queryType": "timeseries", "dataSource": "events",
        "granularity": "day",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
        "context": {"queryId": "metrics-test-1"},
    }
    engine.execute(q)
    m = engine.metrics("metrics-test-1")
    assert len(m) == 1
    assert m[0]["success"] and m[0]["queryType"] == "timeseries"
    assert m[0]["rows"] == 2 and m[0]["queryTimeMs"] > 0
    assert not m[0]["cacheHit"]

    engine.execute(q)  # same ETag → cache hit
    m = engine.metrics("metrics-test-1")
    assert len(m) == 2 and m[1]["cacheHit"] and m[1]["rows"] == 2

    import pytest as _pytest

    from coolplaydruid_spark.errors import DruidQueryError

    with _pytest.raises(DruidQueryError):
        engine.execute({
            "queryType": "timeseries", "dataSource": "no_such_table",
            "granularity": "day",
            "aggregations": [{"type": "count", "name": "n"}],
            "context": {"queryId": "metrics-test-2"},
        })
    m = engine.metrics("metrics-test-2")
    assert len(m) == 1 and not m[0]["success"] and m[0]["error"]


def test_datasource_introspection_endpoints(server):
    """Broker dataSource endpoints: list, per-source dims+metrics,
    the /dimensions and /metrics sub-resources, 404 for unknown."""
    status, _h, body = _req(server, "GET", "/druid/v2/datasources")
    names = json.loads(body)
    assert status == 200 and "events" in names and "lineitem" in names

    status, _h, body = _req(server, "GET", "/druid/v2/datasources/events")
    assert status == 200
    info = json.loads(body)
    assert "event_type" in info["dimensions"]
    assert "value" in info["metrics"]
    assert "__time" not in info["dimensions"] + info["metrics"]

    _s, _h, dims = _req(server, "GET", "/druid/v2/datasources/events/dimensions")
    _s, _h, mets = _req(server, "GET", "/druid/v2/datasources/events/metrics")
    assert json.loads(dims) == info["dimensions"]
    assert json.loads(mets) == info["metrics"]

    status, _h, _b = _req(server, "GET", "/druid/v2/datasources/nope")
    assert status == 404


def test_reregistered_lookup_is_never_served_stale(engine):
    """registeredLookup extractionFns resolve at plan time, so the ETag
    (the result-cache key) covers the lookup registry: re-registering a
    lookup changes the ETag and the next answer uses the new mapping."""
    q = {
        "queryType": "groupBy",
        "dataSource": "customer",
        "granularity": "all",
        "dimensions": [{
            "type": "extraction", "dimension": "c_mktsegment", "outputName": "kind",
            "extractionFn": {"type": "registeredLookup", "lookup": "segment_kinds",
                             "replaceMissingValueWith": "other"},
        }],
        "aggregations": [{"type": "count", "name": "n"}],
    }

    def kinds():
        return {r["event"]["kind"]: r["event"]["n"] for r in engine.execute(q)}

    engine.catalog.register_lookup("segment_kinds", {"FURNITURE": "home", "HOUSEHOLD": "home"})
    tag = engine.etag(q)
    first = kinds()
    assert set(first) == {"home", "other"}
    assert kinds() == first and engine.metrics()[-1]["cacheHit"]

    engine.catalog.register_lookup("segment_kinds", {"MACHINERY": "industry"})
    second = kinds()
    assert set(second) == {"industry", "other"}
    assert sum(second.values()) == sum(first.values())
    assert engine.etag(q) != tag


# ---- one query lifecycle for cached and streamed native queries ---------

UNION_SCAN = {
    "queryType": "scan",
    "dataSource": {"type": "union", "dataSources": ["events"] * 40},
    "columns": ["event_id", "event_type"],
    "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
}


def test_http_compacted_list_and_select_match_execute_json(server, engine):
    """Over HTTP a compactedList scan streams Druid batches of at most
    _SCAN_BATCH_ROWS rows, not one batch per row, and a select keeps its
    paging envelope: both bodies equal execute_json's answer."""
    from coolplaydruid_spark import engine as engine_mod

    limited = {
        "queryType": "scan", "dataSource": "events", "resultFormat": "compactedList",
        "columns": ["event_id", "event_type"], "limit": 3,
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
    }
    wide = dict(UNION_SCAN, resultFormat="compactedList")
    select = {
        "queryType": "select", "dataSource": "events", "dimensions": ["event_type"],
        "metrics": ["value"], "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        "pagingSpec": {"threshold": 5, "offset": 5},
    }
    got = []
    for q in (limited, wide, select):
        status, headers, body = _req(server, "POST", "/druid/v2", q)
        assert status == 200
        got.append(json.loads(body))
        assert got[-1] == json.loads(engine.execute_json(q))
        assert (headers.get("Transfer-Encoding") == "chunked") == (q is not select)
    n = engine_mod._SCAN_BATCH_ROWS  # noqa: SLF001
    assert len(got[0]) == 1 and len(got[0][0]["events"]) == 3
    assert [len(b["events"]) for b in got[1]] == [n, 40000 - n]
    assert got[2][0]["result"]["pagingIdentifiers"] == {"events": 10}


def test_http_scan_records_one_metrics_row(server, engine):
    q = dict(UNION_SCAN, dataSource="events", context={"queryId": "scan-m-1"})
    status, _, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200
    rows = json.loads(body)
    m = engine.metrics("scan-m-1")
    assert len(m) == 1
    assert m[0]["success"] and m[0]["queryType"] == "scan"
    assert m[0]["rows"] == len(rows) > 0 and not m[0]["cacheHit"]


def test_http_scan_timeout_is_enveloped(server, engine):
    """context.timeout holds for a streamed scan as for execute(): the
    40x union (as in test_timeout_enforced) answers 500 with the
    timeout envelope, not 200 with every row."""
    q = dict(UNION_SCAN, context={"timeout": 1, "queryId": "scan-timeout-1"})
    status, _, body = _req(server, "POST", "/druid/v2", q)
    assert status == 500
    assert json.loads(body)["error"] == "Query timeout"
    m = engine.metrics("scan-timeout-1")
    assert len(m) == 1 and m[0]["error"] == "QueryTimeoutError"


def test_http_stream_failure_after_head_truncates(server, engine, monkeypatch):
    """A scan that fails after its first chunk is out ends the connection
    mid-body: no terminating chunk and no second status line."""
    import socket

    calls = []
    serialize = engine.serialize

    def failing(query, rows):
        calls.append(len(rows))
        if len(calls) > 1:
            raise RuntimeError("injected after the first chunk")
        return serialize(query, rows)

    monkeypatch.setattr(engine, "serialize", failing)
    body = json.dumps(dict(UNION_SCAN, context={"queryId": "scan-broken-1"})).encode()
    with socket.create_connection(("127.0.0.1", server.port), timeout=120) as sock:
        sock.sendall(b"POST /druid/v2 HTTP/1.1\r\nHost: x\r\nConnection: close\r\n"
                     + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
        raw = b""
        while chunk := sock.recv(1 << 16):
            raw += chunk
    assert raw.startswith(b"HTTP/1.1 200")
    assert raw.count(b"HTTP/1.1") == 1
    assert len(raw) > 64 * 1024 and not raw.endswith(b"0\r\n\r\n")
    m = engine.metrics("scan-broken-1")
    assert len(m) == 1 and not m[0]["success"] and m[0]["error"] == "RuntimeError"


def test_cache_hit_stays_off_spark(engine, monkeypatch):
    """A result-cache hit runs the lifecycle without its Spark part: no
    job group is set and no timeout timer starts."""
    import threading

    from pyspark import SparkContext

    q = dict(_count_query("events", timeout=60000), granularity="day")
    engine.execute(q)  # fills the result cache
    calls = []
    monkeypatch.setattr(SparkContext, "setJobGroup", lambda *a, **k: calls.append(a))
    monkeypatch.setattr(threading, "Timer", lambda *a, **k: calls.append(a))
    engine.execute(q)
    assert engine.metrics()[-1]["cacheHit"]
    assert calls == []
