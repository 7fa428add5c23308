"""DruidEngine — the query entry point.

Mirrors the reference's query lifecycle (query/query-internal-procedure.md:
QueryResource.doPost → readQuery → QueryLifecycle → getRunner → Sequence →
streamed JSON) collapsed onto Spark:

    parse JSON spec → dispatch on queryType → planner builds a DataFrame
    (logical plan) → Catalyst plans/executes → serialize Druid-shaped rows.

The broker's segment location + scatter/gather (QuerySegmentWalker →
mergeRunners → mergeResults, query/query-01.jpg) disappears into Catalyst:
partition pruning selects "segments", partial/final HashAggregate is the
historical→broker merge.

Operational contract (query/query-module-overview.md:55-87): every native
query runs inside one ``_Lifecycle`` — its id, Spark job group (cancel),
context.timeout, one metrics row and the mapping to the JSON error
envelope — whether it is answered from the result cache, collected, or
streamed. ``streamed()`` is the one place that decides what streams:
only scan, whose result grows with the table.
"""

from __future__ import annotations

import copy
import hashlib
import json
import threading
import time
import uuid
from itertools import islice
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coolplaydruid_spark.catalog import Catalog
from coolplaydruid_spark.errors import (
    DruidQueryError,
    QueryTimeoutError,
    ResourceLimitExceededError,
    UnknownQueryError,
    envelope_for,
)
from coolplaydruid_spark.plans.common import BUCKET
from coolplaydruid_spark.plans.groupby import plan_groupby
from coolplaydruid_spark.plans.lookups import resolve_registered_lookups
from coolplaydruid_spark.plans.moving_average import plan_moving_average
from coolplaydruid_spark.rollup import RollupSpec, rewrite_with_rollup
from coolplaydruid_spark.plans.metadata import (
    plan_datasource_metadata,
    plan_segment_metadata,
    plan_time_boundary,
)
from coolplaydruid_spark.plans.scan import plan_scan, plan_select
from coolplaydruid_spark.plans.search import plan_search
from coolplaydruid_spark.plans.timeseries import plan_timeseries
from coolplaydruid_spark.plans.topn import plan_topn


# Context keys that cannot change a query's answer, so they stay out of
# its ETag / result-cache key: a per-request queryId must not defeat the
# cache.
_ANSWER_FREE_CONTEXT = {"queryId", "timeout", "priority", "useCache", "populateCache"}

# Druid's scan batchSize default: a compactedList scan answers in batch
# objects of at most this many rows, and a streamed scan serializes this
# many rows at a time.
_SCAN_BATCH_ROWS = 20480


def _parse_query(query: dict | str) -> dict:
    """A query spec from its JSON text; a dict passes through."""
    if not isinstance(query, str):
        return query
    try:
        return json.loads(query)
    except json.JSONDecodeError as e:
        raise UnknownQueryError(str(e), error_class="JsonParseException") from e


class _Result:
    """One answer as the result cache holds it: the Druid-shaped rows and
    their JSON encoding, made on first use and kept, so a cache hit over
    HTTP writes stored bytes instead of re-encoding the rows."""

    __slots__ = ("rows", "_body")

    def __init__(self, rows: list[dict[str, Any]]):
        self.rows = rows
        self._body: bytes | None = None

    @property
    def body(self) -> bytes:
        # Two threads may encode the same rows at once; both get equal
        # bytes and either may be kept, so no lock is needed.
        if self._body is None:
            self._body = json.dumps(self.rows, default=str).encode()
        return self._body


def streamed(query: dict) -> bool:
    """Whether ``query`` is answered as a stream (``execute_stream``,
    chunked over HTTP) instead of through the result cache: only scan,
    the one query type whose result grows with the table. The others are
    bounded — aggregations by their buckets, select by
    pagingSpec.threshold — so they are collected, cached and sent whole."""
    return query.get("queryType") == "scan"


class _Lifecycle:
    """One native query from arrival to its metrics row — the reference's
    QueryLifecycle (query/query-internal-procedure.md:143-189), which the
    cached and the streamed path both run inside.

    Entering names the query (context.queryId, else a fresh id) and
    starts its clock. ``start_spark`` is the part only an executed query
    pays for, so a cache hit makes no py4j call and starts no timer: it
    puts the query's Spark jobs in a job group named by its id (what
    ``cancel`` and the deadline act on) and starts the context.timeout
    (ms) timer. Leaving stops both, records one metrics row, success or
    failure, and maps a failure to the exception the error envelope is
    built from: QueryTimeoutError once the deadline has passed, a
    DruidQueryError as it is, anything else as UnknownQueryError."""

    def __init__(self, engine: "DruidEngine", query: dict):
        context = query.get("context") or {}
        self.engine = engine
        self.query = query
        self.query_id = context.get("queryId") or str(uuid.uuid4())
        self.timeout_ms = context.get("timeout")
        self.rows: int | None = None
        self.cache_hit = False
        self.timed_out = False
        self._sc = None
        self._timer: threading.Timer | None = None

    def __enter__(self) -> "_Lifecycle":
        self.t0 = time.perf_counter()
        return self

    def start_spark(self) -> None:
        sc = self._sc = self.engine.spark.sparkContext
        sc.setJobGroup(self.query_id, f"druid query {self.query_id}",
                       interruptOnCancel=True)
        if self.timeout_ms:
            def expire():
                self.timed_out = True
                sc.cancelJobGroup(self.query_id)

            self._timer = threading.Timer(self.timeout_ms / 1000.0, expire)
            self._timer.daemon = True
            self._timer.start()

    def check_deadline(self) -> None:
        """Raise once the deadline has passed: its cancel may have landed
        between two Spark jobs and stopped nothing."""
        if self.timed_out:
            raise QueryTimeoutError()

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._timer:
            self._timer.cancel()
        if self._sc:
            self._sc.setJobGroup(str(uuid.uuid4()), "idle")
        mapped = exc
        if isinstance(exc, Exception) and not isinstance(exc, DruidQueryError):
            mapped = (QueryTimeoutError() if self.timed_out else
                      UnknownQueryError(str(exc), error_class=type(exc).__name__))
        # The metrics row names the original failure, unless it was the
        # deadline's cancel.
        error = None if exc is None else type(
            mapped if isinstance(mapped, QueryTimeoutError) else exc).__name__
        self.engine._emit_metrics(  # noqa: SLF001
            self.query, self.query_id, self.t0, success=exc is None,
            rows=self.rows if exc is None else None,
            cache_hit=self.cache_hit, error=error)
        if mapped is not exc:
            raise mapped from exc
        return False


def _iso(v):
    """Result timestamps in Druid's ISO-8601 Z form."""
    return v.isoformat() + "Z" if hasattr(v, "isoformat") else v


class DruidEngine:
    def __init__(self, spark: SparkSession, catalog: Catalog | None = None,
                 result_cache_entries: int = 1024, metrics_entries: int = 1024):
        self.spark = spark
        self.catalog = catalog or Catalog(spark)
        # ETag-keyed result cache (see _result()); plain FIFO bound —
        # entries are invalidated by key churn, not eviction policy. One
        # lock guards lookup, eviction and insert: HTTP handler threads
        # share it.
        self._result_cache: dict[str, _Result] = {}
        self._result_cache_max = result_cache_entries
        self._result_cache_lock = threading.Lock()
        self._rollups: list[RollupSpec] = []
        # Per-query metrics ring buffer — the analogue of the reference's
        # QueryLifecycle.emitLogsAndMetrics (query/query-internal-procedure.md:
        # 143-189: query/time, success, id, on completion OR failure).
        from collections import deque

        self._metrics: deque = deque(maxlen=metrics_entries)

    # ---- planning -------------------------------------------------------

    _PLANNERS = {
        "timeseries": plan_timeseries,
        "movingAverage": plan_moving_average,
        "topN": plan_topn,
        "groupBy": plan_groupby,
        "scan": plan_scan,
        "select": plan_select,
        "search": plan_search,
        "timeBoundary": plan_time_boundary,
        "segmentMetadata": plan_segment_metadata,
        "dataSourceMetadata": plan_datasource_metadata,
    }

    def resolve_datasource(self, spec) -> DataFrame:
        """Resolve table/union/nested-query/join/lookup/inline
        dataSources. A nested query dataSource (groupBy over groupBy,
        query/query-module-overview.md:40) recursively plans the inner
        query; its bucket column becomes the inner frame's ``__time`` so
        outer granularity still applies. join/lookup/inline are the
        public post-0.12 Druid dataSource types (extension surface —
        the taxonomy is open-ended per query/query-module-overview.md:40)."""
        if isinstance(spec, dict) and spec.get("type") == "query":
            inner = self.plan(spec["query"])
            if BUCKET in inner.columns:
                inner = inner.withColumnRenamed(BUCKET, "__time")
            return inner
        if isinstance(spec, dict) and spec.get("type") == "join":
            return self._resolve_join(spec)
        if isinstance(spec, dict) and spec.get("type") == "lookup":
            # Lookup dataSource: the registered lookup as a two-column
            # (k, v) frame — Druid's column names.
            lk = self.catalog.lookup(spec["lookup"])
            return lk.select(F.col("key").alias("k"), F.col("value").alias("v"))
        if isinstance(spec, dict) and spec.get("type") == "inline":
            cols = spec["columnNames"]
            rows = [tuple(r) for r in spec.get("rows") or []]
            if rows:
                return self.spark.createDataFrame(rows, cols)
            from pyspark.sql.types import StringType, StructField, StructType

            return self.spark.createDataFrame(
                [], StructType([StructField(c, StringType()) for c in cols])
            )
        return self.catalog.resolve(spec)

    def _resolve_join(self, spec: dict) -> DataFrame:
        """Join dataSource (public Druid semantics): right-side columns
        exposed under ``rightPrefix``; ``condition`` is a Druid
        expression over left columns and prefixed (double-quoted) right
        columns, e.g. ``event_type == "r.k"``; joinType INNER or LEFT.

        Druid restricts the right side to broadcast-able sources
        (lookup/inline/query results held on every server); mirroring
        that, lookup and inline right sides get an explicit broadcast
        hint — query/table right sides are left to AQE, which broadcasts
        small ones from observed sizes."""
        from coolplaydruid_spark.functions.druidexpr import compile_druid_predicate

        left = self.resolve_datasource(spec["left"])
        right = self.resolve_datasource(spec["right"])
        prefix = spec.get("rightPrefix", "r.")
        if not prefix:
            raise ValueError("join dataSource requires a non-empty rightPrefix")
        for c in right.columns:
            right = right.withColumnRenamed(c, prefix + c)
        rtype = spec["right"].get("type") if isinstance(spec["right"], dict) else None
        if rtype in ("lookup", "inline"):
            right = F.broadcast(right)

        from coolplaydruid_spark.functions.druidexpr import (
            DruidExprError,
            _Val,
            tag_for_dtype,
        )

        tags = {}
        for side in (left, right):
            for f in side.schema.fields:
                tags[f.name] = tag_for_dtype(f.dataType)
        from coolplaydruid_spark.functions.extraction import safe_col

        def resolve(name: str):
            # Names are unique across the two inputs (the prefix
            # guarantees it), so plain backtick-quoted references
            # resolve unambiguously inside the join condition.
            side = "right" if name.startswith(prefix) else "left"
            if name not in tags:
                raise DruidExprError(f"unknown {side} column {name!r}")
            return _Val(safe_col(name), tags[name])

        cond = compile_druid_predicate(spec["condition"], resolver=resolve)
        how = {"INNER": "inner", "LEFT": "left"}.get(
            str(spec.get("joinType", "INNER")).upper()
        )
        if how is None:
            raise ValueError(f"unsupported joinType {spec.get('joinType')!r}")
        return left.join(right, cond, how)

    def plan(self, query: dict) -> DataFrame:
        """JSON query spec → DataFrame (lazy logical plan)."""
        if "queryType" not in query:
            raise UnknownQueryError("missing queryType", error_class="IllegalArgumentException")
        qtype = query["queryType"]
        planner = self._PLANNERS.get(qtype)
        if planner is None:
            raise UnknownQueryError(
                f"unknown queryType {qtype!r}", error_class="IllegalArgumentException"
            )
        query = resolve_registered_lookups(self, query)
        if self._rollups and (query.get("context") or {}).get("useRollup", True):
            query = rewrite_with_rollup(self._rollups, query)
            planner = self._PLANNERS[query["queryType"]]
        return planner(self, query)

    def register_rollup(self, spec: RollupSpec) -> None:
        """Declare a materialized rollup of a base dataSource; answerable
        aggregation queries silently reroute to it (rollup.py). Register
        coarsest-first — the first answerable rollup wins. Disable per
        query with context.useRollup=false.

        FRESHNESS CONTRACT: a rollup is a snapshot of the base table at
        materialization time. Ingest that changes the base (append/
        overwrite) must re-materialize and re-register — or call
        unregister_rollups(base) — exactly as Druid re-builds rollup
        segments; nothing here diffs the base table per query. The ETag
        keys on the catalog version of the table actually read, so
        re-registering the rollup table (``register_ingested`` is the
        publish step) changes both its answers and its ETag."""
        self._rollups.append(spec)

    def unregister_rollups(self, base: str) -> int:
        """Drop all rollups registered for a base dataSource (call after
        ingest invalidates them). Returns how many were removed."""
        before = len(self._rollups)
        self._rollups = [r for r in self._rollups if r.base != base]
        return before - len(self._rollups)

    # ---- execution with the operational contract ------------------------

    def _emit_metrics(self, query: dict, query_id: str, t0: float, *,
                      success: bool, rows: int | None = None,
                      cache_hit: bool = False, error: str | None = None) -> None:
        """Record one query/time metrics row (reference:
        QueryLifecycle.emitLogsAndMetrics, emitted on completion AND on
        failure — query/query-internal-procedure.md:143-189)."""
        self._metrics.append(
            {
                "queryId": query_id,
                "queryType": query.get("queryType"),
                "dataSource": str(query.get("dataSource")),
                "success": success,
                "rows": rows,
                "cacheHit": cache_hit,
                "queryTimeMs": round((time.perf_counter() - t0) * 1000.0, 3),
                "error": error,
            }
        )

    def metrics(self, query_id: str | None = None) -> list[dict[str, Any]]:
        """Recorded query metrics, newest last; optionally filtered by
        queryId."""
        out = list(self._metrics)
        if query_id is not None:
            out = [m for m in out if m["queryId"] == query_id]
        return out

    def execute(self, query: dict | str) -> list[dict[str, Any]]:
        """Run a query and return Druid-shaped result rows. Applies
        ``context.timeout`` (ms) via job-group cancellation and maps any
        failure to the Druid error envelope."""
        query = _parse_query(query)
        key = self._cache_key(query)
        rows = self._result(query, key).rows
        # A cached entry is shared with every later hit: hand out a copy,
        # so a caller editing its rows cannot change the next answer.
        return copy.deepcopy(rows) if key else rows

    def _cache_key(self, query: dict) -> str | None:
        """The result-cache key of ``query`` — its ETag — or None when
        the cache can neither serve nor keep it: a streamed query is
        never cached, and context.useCache / populateCache (both default
        true in Druid) can switch the cache off."""
        context = query.get("context") or {}
        if streamed(query) or not (
            context.get("useCache", True) or context.get("populateCache", True)
        ):
            return None
        return self.etag(query)

    def _result(self, query: dict, key: str | None) -> _Result:
        """The answer to ``query`` as a result-cache entry: a hit, or a
        fresh execution that fills the cache. ``key`` is the query's ETag
        (None bypasses the cache), taken by the caller so that a request
        hashes its query once; reads honour context.useCache and writes
        context.populateCache. The entry may be shared with the cache:
        read it, never mutate it.

        The cache (the reference's caching/ETag machinery,
        query/query-internal-procedure.md:41-47) is keyed by the ETag —
        canonical query + the catalog version of the table read — so
        re-registration mints a new key and stale entries simply stop
        being referenced; plan() resolves the table after the key is
        taken, so an entry is never older than its key's version."""
        context = query.get("context") or {}
        with _Lifecycle(self, query) as life:
            if key and context.get("useCache", True):
                with self._result_cache_lock:
                    hit = self._result_cache.get(key)
                if hit is not None:
                    life.cache_hit, life.rows = True, len(hit.rows)
                    return hit
            life.start_spark()
            df = self.plan(query)
            # context.maxResults — the reference's groupBy resource limit
            # (query/query-module-overview.md:86): collect limit+1 rows in
            # the same job (TakeOrderedAndProject/CollectLimit, no second
            # pass) and fail with the documented error code on overflow
            # rather than buffering an unbounded result on the driver.
            max_results = context.get("maxResults")
            if max_results is not None:
                max_results = int(max_results)
                rows = [
                    r.asDict(recursive=True)
                    for r in df.limit(max_results + 1).collect()
                ]
                if len(rows) > max_results:
                    raise ResourceLimitExceededError(
                        f"query produced more than maxResults={max_results} rows"
                    )
            elif query.get("queryType") == "scan" and query.get("limit") is None:
                # A LIMITLESS scan is the one surface whose result is
                # O(table): collect() would materialize every row in the
                # JVM driver at once before Python sees any. Fetch
                # partition-at-a-time instead (toLocalIterator — the
                # same delivery execute_stream uses), so JVM driver
                # memory peaks at ~2 prefetched partitions regardless of
                # table size (r12 verdict #2). Every other query type is
                # bounded by construction: aggregations by their buckets,
                # select by pagingSpec.threshold (default 1000), scan
                # WITH a limit by CollectLimit.
                rows = [
                    r.asDict(recursive=True)
                    for r in df.toLocalIterator(prefetchPartitions=True)
                ]
            else:
                rows = [r.asDict(recursive=True) for r in df.collect()]
            life.check_deadline()
            entry = _Result(self.serialize(query, rows))
            if key and context.get("populateCache", True):
                with self._result_cache_lock:
                    if len(self._result_cache) >= self._result_cache_max:
                        self._result_cache.pop(next(iter(self._result_cache)))
                    self._result_cache[key] = entry
            life.rows = len(entry.rows)
            return entry

    def execute_stream(self, query: dict | str):
        """Streamed execution — the analogue of the reference's chunked
        JSON result sink (query/query-internal-procedure.md:152-189).

        A scan (see ``streamed``) yields its serialized entries
        ``_SCAN_BATCH_ROWS`` rows at a time from ``toLocalIterator``:
        partitions arrive at the driver one at a time, so an unbounded
        scan is O(partition) driver memory, not O(table). Every other
        query type is bounded and returns ``iter(execute(query))``. The
        stream runs inside the same lifecycle as execute(): query id,
        job group, context.timeout, one metrics row and the error
        mapping. The query is planned before the iterator is returned,
        so a spec or analysis error raises here, not from the first
        ``next()``.
        """
        query = _parse_query(query)
        if not streamed(query):
            return iter(self.execute(query))
        entries = self._stream(query)
        next(entries)  # runs the lifecycle up to the plan
        return entries

    def _stream(self, query: dict):
        """execute_stream's generator: yields None once planning is done,
        then the entries."""
        with _Lifecycle(self, query) as life:
            life.start_spark()
            df = self.plan(query)
            life.check_deadline()
            yield None
            rows = (r.asDict(recursive=True)
                    for r in df.toLocalIterator(prefetchPartitions=True))
            life.rows = 0
            for batch in iter(lambda: list(islice(rows, _SCAN_BATCH_ROWS)), []):
                # The deadline's cancel stops only a running job; between
                # partitions the stream itself must stop.
                life.check_deadline()
                entries = self.serialize(query, batch)
                life.rows += len(entries)
                yield from entries

    def execute_json(self, query: dict | str) -> str:
        """Like execute() but never raises: failures return the JSON error
        envelope exactly as the reference's QueryResource does
        (query/query-module-overview.md:60-87). A cached answer's JSON is
        encoded once and served from the cache entry."""
        try:
            query = _parse_query(query)
            return self._result(query, self._cache_key(query)).body.decode()
        except Exception as e:
            return json.dumps(envelope_for(e))

    def cancel(self, query_id: str) -> None:
        """DELETE /druid/v2/{id} equivalent
        (query/query-module-overview.md:55-59)."""
        self.spark.sparkContext.cancelJobGroup(query_id)

    def explain(self, query: dict, mode: str = "formatted") -> str:
        """The Catalyst plan for a NATIVE JSON query (the engine-level
        counterpart of Druid SQL's EXPLAIN PLAN FOR): plans the query,
        returns the plan string without executing. Modes are Spark's
        explain modes (simple | extended | codegen | cost | formatted)."""
        df = self.plan(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )

    def etag(self, query: dict) -> str | None:
        """ETag for If-None-Match caching and the result-cache key
        (query/query-internal-procedure.md:41-47): hash of the canonical
        rollup-routed query, the catalog version of the table it reads
        (Druid's per-segment-version cache key) and the lookup registry's
        version (registered lookups resolve at plan time); no filesystem
        access. FRESHNESS CONTRACT: ETag and answer change together,
        exactly on (re)registration of the table or of a lookup —
        ``register_ingested`` publishes an append. None unless the
        dataSource is a registered path-backed table."""
        if self._rollups and (query.get("context") or {}).get("useRollup", True):
            query = rewrite_with_rollup(self._rollups, query)
        ds = query.get("dataSource")
        if isinstance(ds, dict):
            ds = ds.get("name") if ds.get("type", "table") == "table" else None
        snap = self.catalog.snapshot(ds) if isinstance(ds, str) else None
        if snap is None or not snap.source.path:
            return None
        context = {k: v for k, v in (query.get("context") or {}).items()
                   if k not in _ANSWER_FREE_CONTEXT}
        canonical = [dict(query, context=context), ds, snap.version,
                     self.catalog.lookup_version]
        h = hashlib.md5(json.dumps(canonical, sort_keys=True, default=str).encode())
        return f'"{h.hexdigest()}"'

    # ---- result shaping -------------------------------------------------

    def serialize(self, query: dict, rows: list[dict]) -> list[dict]:
        """Shape collected rows like Druid's native JSON results
        (timeseries: query/query-timeseries.md:60-72; others public)."""
        qtype = query.get("queryType")
        iso = _iso
        if qtype == "timeseries":
            return [
                {
                    "timestamp": iso(r.get(BUCKET)),
                    "result": {k: v for k, v in r.items() if k != BUCKET},
                }
                for r in rows
            ]
        if qtype == "topN":
            by_bucket: dict = {}
            order: list = []
            for r in rows:
                ts = iso(r.get(BUCKET))
                if ts not in by_bucket:
                    by_bucket[ts] = []
                    order.append(ts)
                by_bucket[ts].append({k: v for k, v in r.items() if k != BUCKET})
            return [{"timestamp": ts, "result": by_bucket[ts]} for ts in order]
        if qtype == "groupBy":
            return [
                {
                    "version": "v1",
                    "timestamp": iso(r.get(BUCKET)),
                    "event": {k: v for k, v in r.items() if k != BUCKET},
                }
                for r in rows
            ]
        if qtype == "timeBoundary":
            return [
                {"timestamp": iso(r.get("minTime", r.get("maxTime"))),
                 "result": {k: iso(v) for k, v in r.items()}}
                for r in rows
            ]
        if qtype == "dataSourceMetadata":
            return [
                {"timestamp": iso(r["maxIngestedEventTime"]),
                 "result": {"maxIngestedEventTime": iso(r["maxIngestedEventTime"])}}
                for r in rows
            ]
        if qtype == "select":
            # Druid 0.12 select envelope: one entry whose result carries
            # pagingIdentifiers (segment → next offset, what the client
            # feeds back to page forward) and offset-stamped events. Our
            # "segment" is the dataSource (a Parquet table is the unit of
            # paging here; per-file offsets would leak physical layout).
            paging = query.get("pagingSpec") or {}
            offset = int(paging.get("offset", 0))
            ds = query.get("dataSource")
            seg = ds if isinstance(ds, str) else "dataSource"
            events = [
                {
                    "segmentId": seg,
                    "offset": offset + i,
                    "event": {k: iso(v) for k, v in r.items()},
                }
                for i, r in enumerate(rows)
            ]
            first_ts = iso(rows[0].get("__time")) if rows else None
            return [
                {
                    "timestamp": first_ts,
                    "result": {
                        "pagingIdentifiers": {seg: offset + len(rows)},
                        "events": events,
                    },
                }
            ]
        if qtype == "scan" and query.get("resultFormat") == "compactedList":
            # Druid scan compactedList (public v0.12): batch objects of up
            # to _SCAN_BATCH_ROWS events, each with the column list once
            # and each event as a value array — the wire-size-efficient
            # form for wide scans. No rows, no batch, as in Druid.
            cols = list(rows[0].keys()) if rows else []
            return [
                {
                    "columns": cols,
                    "events": [[iso(r[c]) for c in cols]
                               for r in rows[i:i + _SCAN_BATCH_ROWS]],
                }
                for i in range(0, len(rows), _SCAN_BATCH_ROWS)
            ]
        # scan/select/search/segmentMetadata: row-per-entry
        return [{k: iso(v) for k, v in r.items()} for r in rows]

    # ---- SQL front-end (Q10) -------------------------------------------

    def sql(self, statement: str, args: list | None = None) -> DataFrame:
        """SQL over registered dataSources — Catalyst replaces Druid's
        Calcite layer wholesale (query/query-module-overview.md:48-49).
        Druid SQL's time functions (TIME_FLOOR/TIME_SHIFT/...) register
        lazily as inlined SQL UDFs (sqlcompat.py) so Druid SQL text runs
        with minimal edits. ``args`` binds Druid SQL's positional ``?``
        parameters (the /druid/v2/sql "parameters" field) via Spark's
        parameterized SQL — values never interpolate into the text, so
        no injection surface."""
        from coolplaydruid_spark.sqlcompat import (
            register_druid_sql_functions,
            register_lookup_sql_function,
            rewrite_druid_sql,
        )

        register_druid_sql_functions(self.spark)
        register_lookup_sql_function(self.spark, self.catalog)
        statement = rewrite_druid_sql(statement)
        # Metadata views materialize only for statements that reference
        # them — the hot SQL path never pays for introspection.
        from coolplaydruid_spark.sqlmeta import (
            references_metadata,
            register_metadata_views,
        )

        if references_metadata(statement):
            register_metadata_views(self.spark, self.catalog)
        if args:
            return self.spark.sql(statement, args=args)
        return self.spark.sql(statement)
