"""Thin HTTP facade over DruidEngine — the reference's REST contract on
the Python stdlib server (no extra dependencies).

Endpoints (reference cites):
 - POST   /druid/v2                  native JSON query
                                     (query/query-module-overview.md:3-6);
                                     supports If-None-Match / ETag
                                     (query/query-internal-procedure.md:41-47)
 - DELETE /druid/v2/{queryId}        cancel (query/query-module-overview.md:55-59)
 - POST   /druid/indexer/v1/task     submit an index task
                                     (indexing-service-submit-task.md:13-98)
 - GET    /druid/indexer/v1/task/{id}/status
                                     task status (ZK status-znode analogue)
 - GET    /status                    health/version

Queries execute on the Spark driver inside the request thread
(ThreadingHTTPServer); Spark's scheduler fans the work out. Errors return
HTTP 500 with the exact reference envelope.

A native query's ETag is computed once per request: it answers
If-None-Match and is the result-cache key. The engine decides what
streams (``engine.streamed``: only scan); every other native query,
select included, gets execute_json's answer, and a cache hit writes the
JSON bytes the cache entry already holds, so it costs one hash, one dict
lookup and the socket writes. Either way the query runs inside the
engine's one lifecycle: query id, job group, timeout, metrics row.
Sockets run with TCP_NODELAY, so a small response never waits for the
client's delayed ACK; streamed results are gathered into ~64 KiB chunks
to keep writes and packets few. A stream's 200 head goes out with its
first chunk, so a failure before that still gets the 500 envelope; a
failure after it truncates the chunked body.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from coolplaydruid_spark.engine import DruidEngine, streamed
from coolplaydruid_spark.errors import envelope_for


# Streamed responses go out in chunks of about this many bytes.
_CHUNK_BYTES = 64 * 1024


def _coerce_sql_param(p):
    """Coerce a /druid/v2/sql parameter to a Python value matching its
    declared Druid type, so the bound literal has the right Spark type
    (Druid coerces by declared type; raw JSON values would bind e.g. a
    TIMESTAMP millis value as a bare BIGINT)."""
    if not isinstance(p, dict):
        return p
    v = p.get("value")
    if v is None:
        return None
    t = (p.get("type") or "").upper()
    import datetime as _dt

    if t == "TIMESTAMP":
        if isinstance(v, (int, float)):  # epoch millis (Druid convention)
            return _dt.datetime.fromtimestamp(v / 1000.0, tz=_dt.timezone.utc)
        return _dt.datetime.fromisoformat(str(v).replace(" ", "T"))
    if t == "DATE":
        return _dt.date.fromisoformat(str(v))
    if t in ("DOUBLE", "FLOAT", "REAL", "DECIMAL"):
        return float(v)
    if t in ("INTEGER", "BIGINT", "SMALLINT", "TINYINT"):
        return int(v)
    if t in ("VARCHAR", "CHAR"):
        return str(v)
    return v


def _jsonable(v):
    """Recursively convert Row/array/map values to JSON-ready Python
    structures (positional for Rows — duplicate-name-safe)."""
    if hasattr(v, "__fields__"):  # pyspark Row
        return {k: _jsonable(x) for k, x in zip(v.__fields__, v)}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _dims_and_metrics(engine, name: str) -> tuple[list[str], list[str]]:
    """Dimensions/metrics for the broker dataSource endpoints: the
    registration's declared lists when present, else derived from the
    schema (strings/arrays → dimensions, numerics → metrics) — the same
    split segmentMetadata reports."""
    src = engine.catalog.source(name)  # KeyError for unknown names
    if src.dimensions or src.metrics:
        return list(src.dimensions or []), list(src.metrics or [])
    from coolplaydruid_spark.catalog import RAW_TIME_NS, TIME_COLUMN

    dims, mets = [], []
    for f in engine.catalog.table(name).schema.fields:
        if f.name in (TIME_COLUMN, RAW_TIME_NS, "__dt"):
            continue
        kind = f.dataType.typeName()
        if kind in ("string", "array"):
            dims.append(f.name)
        elif kind in ("long", "integer", "double", "float", "short", "byte"):
            mets.append(f.name)
    return dims, mets


def make_handler(engine: DruidEngine):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # TCP_NODELAY: headers and body go out as separate writes, and
        # with Nagle on the second waits for the client's delayed ACK
        # (about 40 ms per response on a keep-alive connection).
        disable_nagle_algorithm = True

        def log_message(self, fmt, *args):  # noqa: A003 - silence stdlib logging
            pass

        def _send(self, code: int, body: bytes, headers: dict | None = None):
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def _read_body(self) -> bytes:
            length = int(self.headers.get("Content-Length", 0))
            return self.rfile.read(length)

        def _send_stream(self, entries, headers: dict | None = None,
                         lines: bool = False, content_type: str = "application/json"):
            """Chunked streamed response — the reference's streamed
            result sink (query/query-internal-procedure.md:152-189): rows
            go out as they arrive from the executors, so an unbounded
            scan never builds the whole payload in server memory.
            ``lines=True`` emits newline-delimited entries (Druid's
            *Lines / csv resultFormats) instead of one JSON array.

            Entries are gathered into chunks of about ``_CHUNK_BYTES``:
            with Nagle off, a chunk per row would cost a write and a
            packet per row. The last chunk and the terminator go out in
            one write.

            The 200 head goes out with the first chunk, so a failure
            before it propagates and still gets the 500 envelope. After
            it no status line can be sent: the connection is closed
            mid-body and the client sees a truncated chunked response."""
            buf = bytearray()
            head_sent = False

            def flush(end: bytes = b""):
                nonlocal head_sent
                if not head_sent:
                    self.send_response(200)
                    self.send_header("Content-Type", content_type)
                    self.send_header("Transfer-Encoding", "chunked")
                    for k, v in (headers or {}).items():
                        self.send_header(k, v)
                    self.end_headers()
                    head_sent = True
                chunk = (f"{len(buf):X}\r\n".encode() + buf + b"\r\n") if buf else b""
                buf.clear()
                self.wfile.write(chunk + end)

            def add(piece: bytes):
                buf.extend(piece)
                if len(buf) >= _CHUNK_BYTES:
                    flush()

            try:
                if lines:
                    for entry in entries:
                        add(entry if isinstance(entry, bytes) else json.dumps(
                            entry, default=str
                        ).encode())
                        add(b"\n")
                else:
                    add(b"[")
                    first = True
                    for entry in entries:
                        piece = json.dumps(entry, default=str).encode()
                        add(piece if first else b"," + piece)
                        first = False
                    add(b"]")
                flush(b"0\r\n\r\n")
            except Exception:
                if not head_sent:
                    raise
                self.close_connection = True

        def do_GET(self):  # noqa: N802
            # Druid clients append query params (?pretty, ?full, ...) to
            # any GET — route every endpoint on the bare path.
            self.path = self.path.split("?", 1)[0]
            if self.path == "/status":
                self._send(200, json.dumps(
                    {"version": "coolplaydruid_spark", "status": "ok"}
                ).encode())
                return
            if self.path in ("/druid/v2/datasources", "/druid/v2/datasources/"):
                # Broker dataSource listing (public Druid broker API).
                self._send(200, json.dumps(engine.catalog.names()).encode())
                return
            if self.path.startswith("/druid/v2/datasources/"):
                parts = self.path.rstrip("/").split("/")
                name = parts[4] if len(parts) > 4 else ""
                sub = parts[5] if len(parts) > 5 else None
                try:
                    dims, mets = _dims_and_metrics(engine, name)
                except KeyError:
                    self._send(404, json.dumps(
                        {"error": f"unknown dataSource {name!r}"}
                    ).encode())
                    return
                except Exception as exc:  # noqa: BLE001 — table load failure
                    from coolplaydruid_spark.errors import envelope_for

                    self._send(500, json.dumps(envelope_for(exc)).encode())
                    return
                if sub == "dimensions":
                    self._send(200, json.dumps(dims).encode())
                elif sub == "metrics":
                    self._send(200, json.dumps(mets).encode())
                elif sub is None:
                    self._send(200, json.dumps(
                        {"dimensions": dims, "metrics": mets}
                    ).encode())
                else:
                    self._send(404, b'{"error": "not found"}')
                return
            if self.path.startswith("/druid/indexer/v1/task/") and self.path.endswith(
                "/status"
            ):
                from coolplaydruid_spark.sources.batch import REGISTRY

                task_id = self.path.split("/")[-2]
                try:
                    st = REGISTRY.get(task_id)
                    self._send(200, json.dumps(
                        {"task": task_id,
                         "status": {"id": task_id, "status": st.status,
                                    "detail": st.detail}}
                    ).encode())
                except KeyError:
                    self._send(404, json.dumps({"error": f"unknown task {task_id}"}).encode())
                return
            self._send(404, b'{"error": "not found"}')

        def do_POST(self):  # noqa: N802
            body = self._read_body()
            try:
                if self.path in ("/druid/v2", "/druid/v2/"):
                    self._post_query(json.loads(body))
                elif self.path in ("/druid/v2/sql", "/druid/v2/sql/"):
                    self._post_sql(json.loads(body))
                elif self.path == "/druid/indexer/v1/task":
                    self._post_task(json.loads(body))
                else:
                    self._send(404, b'{"error": "not found"}')
            except Exception as e:  # noqa: BLE001
                # Nothing of the response has gone out: a stream whose
                # head is out ends itself (see _send_stream).
                self._send(500, json.dumps(envelope_for(e)).encode())

        def _post_query(self, query: dict):
            """A native query. Its ETag, computed once, answers
            If-None-Match and is the result-cache key. A scan streams
            (``streamed``); every other query is answered whole from
            the result cache."""
            etag = engine.etag(query)
            if etag and self.headers.get("If-None-Match") == etag:
                self._send(304, b"", {"ETag": etag})
                return
            headers = {"ETag": etag} if etag else None
            if streamed(query):
                # Planned before the iterator is returned, so spec and
                # analysis errors still get the 500 envelope.
                self._send_stream(engine.execute_stream(query), headers)
            else:
                self._send(200, engine._result(query, etag).body, headers)  # noqa: SLF001

        def _post_sql(self, spec: dict):
            """Druid SQL over HTTP: {"query": str, "parameters":
            [{"type", "value"}...], "resultFormat": "object"|"array"|
            "objectLines"|"arrayLines"|"csv", "header": bool}. Results
            stream chunked, the same sink as scan
            (query-internal-procedure.md:152-189)."""
            sql_text = spec["query"]
            params = spec.get("parameters") or []
            args = [_coerce_sql_param(p) for p in params] or None
            fmt = spec.get("resultFormat", "object")
            if fmt not in ("object", "array", "objectLines",
                           "arrayLines", "csv"):
                raise ValueError(
                    f"unsupported resultFormat {fmt!r}; supported: "
                    "object, array, objectLines, arrayLines, csv"
                )
            df = engine.sql(sql_text, args=args)
            cols = df.schema.fieldNames()  # force analysis pre-stream
            import itertools

            it = df.toLocalIterator()
            header = bool(spec.get("header"))
            # Rows are accessed POSITIONALLY (iterating a Row yields
            # values in select-list order): name-based access returns
            # the first match for duplicate output names, silently
            # corrupting `SELECT 1 AS x, 2 AS x`. The object formats
            # keep JSON-object semantics (duplicate keys collapse,
            # last wins — same as Druid's JSON objects).
            if fmt in ("object", "objectLines"):
                entries = (
                    {k: _jsonable(v) for k, v in zip(cols, row)}
                    for row in it
                )
            elif fmt == "csv":
                def _csv_cell(v):
                    if v is None:
                        return ""
                    s = str(v)
                    if any(ch in s for ch in ',"\n\r'):
                        s = '"' + s.replace('"', '""') + '"'
                    return s

                entries = (
                    ",".join(_csv_cell(v) for v in row).encode()
                    for row in it
                )
                if header:
                    entries = itertools.chain(
                        [",".join(_csv_cell(c) for c in cols).encode()],
                        entries,
                    )
            else:
                entries = ([_jsonable(v) for v in row] for row in it)
                if header:
                    entries = itertools.chain([cols], entries)
            self._send_stream(
                entries,
                lines=fmt in ("objectLines", "arrayLines", "csv"),
                content_type="text/csv" if fmt == "csv"
                else "application/json",
            )

        def _post_task(self, spec: dict):
            """Submit an index task."""
            from coolplaydruid_spark.sources import batch

            ttype = spec.get("type", "index")
            if ttype == "noop":
                st = batch.noop_task()
            elif ttype in ("index", "index_hadoop", "append"):
                io = spec["spec"]
                fn = batch.append_task if ttype == "append" else batch.index_task
                st = fn(
                    engine.spark,
                    io["source"],
                    io["destPath"],
                    time_column=io["timeColumn"],
                    rollup=io.get("rollup"),
                    sort_by=io.get("sortBy"),
                )
            else:
                raise ValueError(f"unsupported task type {ttype!r}")
            self._send(200, json.dumps({"task": st.task_id}).encode())

        def do_DELETE(self):  # noqa: N802
            if self.path.startswith("/druid/v2/"):
                query_id = self.path.rsplit("/", 1)[-1]
                engine.cancel(query_id)
                self._send(202, json.dumps({"cancelled": query_id}).encode())
                return
            self._send(404, b'{"error": "not found"}')

    return Handler


class DruidHttpServer:
    """Threaded HTTP server wrapper; start()/shutdown() for embedding and
    tests."""

    def __init__(self, engine: DruidEngine, host: str = "127.0.0.1", port: int = 8082):
        self.httpd = ThreadingHTTPServer((host, port), make_handler(engine))
        self.thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]

    def start(self) -> "DruidHttpServer":
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        return self

    def shutdown(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self.thread:
            self.thread.join(timeout=5)
