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

Operational contract (query/query-module-overview.md:55-87): per-query id,
cancel, timeout, and the JSON error envelope.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
import uuid
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


def _iso(v):
    """Result timestamps in Druid's ISO-8601 Z form."""
    return v.isoformat() + "Z" if hasattr(v, "isoformat") else v


class DruidEngine:
    def __init__(self, spark: SparkSession, catalog: Catalog | None = None,
                 result_cache_entries: int = 1024, metrics_entries: int = 1024):
        self.spark = spark
        self.catalog = catalog or Catalog(spark)
        # ETag-keyed result cache (see execute()); plain FIFO bound —
        # entries are invalidated by key churn, not eviction policy. One
        # lock guards lookup, eviction and insert: HTTP handler threads
        # share it.
        self._result_cache: dict[str, list] = {}
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
        if isinstance(query, str):
            try:
                query = json.loads(query)
            except json.JSONDecodeError as e:
                raise UnknownQueryError(str(e), error_class="JsonParseException") from e
        context = query.get("context") or {}
        query_id = context.get("queryId") or str(uuid.uuid4())
        timeout_ms = context.get("timeout")
        t0 = time.perf_counter()
        # Result cache (context.useCache / populateCache, both default
        # true in Druid; the reference's caching/ETag machinery is
        # query/query-internal-procedure.md:41-47). Keyed by the ETag —
        # canonical query + the catalog version of the table read — so
        # re-registration mints a new key and stale entries simply stop
        # being referenced; plan() resolves the table after the key is
        # taken, so an entry is never older than its key's version.
        # Entries hold serialized results (aggregation-sized); scan/select
        # are never cached (Druid likewise only caches per-segment
        # aggregates).
        cacheable = query.get("queryType") not in ("scan", "select")
        cache_key = None
        if cacheable and (context.get("useCache", True) or context.get("populateCache", True)):
            cache_key = self.etag(query)
        if cache_key and context.get("useCache", True):
            with self._result_cache_lock:
                hit = self._result_cache.get(cache_key)
            if hit is not None:
                self._emit_metrics(query, query_id, t0, success=True,
                                   rows=len(hit), cache_hit=True)
                return hit
        sc = self.spark.sparkContext
        sc.setJobGroup(query_id, f"druid query {query_id}", interruptOnCancel=True)
        # Query prioritization (query/query-module-overview.md: context
        # priority knob; SURVEY §4 O12): map priority to a fair-scheduler
        # pool so high-priority queries aren't starved by long scans.
        if context.get("priority") is not None:
            pool = "high" if int(context["priority"]) > 0 else "low"
            sc.setLocalProperty("spark.scheduler.pool", pool)
        timer = None
        timed_out = threading.Event()
        if timeout_ms:
            def _cancel():
                timed_out.set()
                sc.cancelJobGroup(query_id)

            timer = threading.Timer(timeout_ms / 1000.0, _cancel)
            timer.daemon = True
            timer.start()
        try:
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
            if timed_out.is_set():
                # The deadline passed while planning/collecting (the cancel
                # may have landed between jobs) — the timeout contract wins.
                raise QueryTimeoutError()
            result = self.serialize(query, rows)
            if cache_key and context.get("populateCache", True):
                with self._result_cache_lock:
                    if len(self._result_cache) >= self._result_cache_max:
                        self._result_cache.pop(next(iter(self._result_cache)))
                    self._result_cache[cache_key] = result
            self._emit_metrics(query, query_id, t0, success=True, rows=len(result))
            return result
        except DruidQueryError as e:
            self._emit_metrics(query, query_id, t0, success=False,
                               error=type(e).__name__)
            raise
        except Exception as e:
            if timed_out.is_set():
                self._emit_metrics(query, query_id, t0, success=False,
                                   error="QueryTimeoutError")
                raise QueryTimeoutError() from e
            self._emit_metrics(query, query_id, t0, success=False,
                               error=type(e).__name__)
            raise UnknownQueryError(str(e), error_class=type(e).__name__) from e
        finally:
            if timer:
                timer.cancel()
            sc.setJobGroup(str(uuid.uuid4()), "idle")
            # Thread-local pool must not leak into the next query executed
            # on a reused handler thread.
            sc.setLocalProperty("spark.scheduler.pool", None)

    def execute_stream(self, query: dict | str):
        """Streamed execution for row-returning queries — the analogue of
        the reference's chunked JSON result sink
        (query/query-internal-procedure.md:152-189).

        scan/select/search results are yielded one serialized entry at a
        time from ``toLocalIterator``: partitions arrive at the driver one
        at a time, so an unbounded scan is O(partition) driver memory, not
        O(table). Aggregation query types are bucket-bounded and fall back
        to execute(). Cancellation still works via the query-id job group.
        """
        if isinstance(query, str):
            try:
                query = json.loads(query)
            except json.JSONDecodeError as e:
                raise UnknownQueryError(str(e), error_class="JsonParseException") from e
        qtype = query.get("queryType")
        if qtype not in ("scan", "select", "search", "segmentMetadata"):
            yield from self.execute(query)
            return
        context = query.get("context") or {}
        query_id = context.get("queryId") or str(uuid.uuid4())
        sc = self.spark.sparkContext
        sc.setJobGroup(query_id, f"druid query {query_id} (streamed)",
                       interruptOnCancel=True)
        try:
            df = self.plan(query)
            for row in df.toLocalIterator(prefetchPartitions=True):
                r = row.asDict(recursive=True)
                if qtype == "select":
                    # The select envelope (pagingIdentifiers) is a batch
                    # concept; the streamed form delivers plain rows like
                    # scan (select's successor) does.
                    yield {k: _iso(v) for k, v in r.items()}
                else:
                    yield self.serialize(query, [r])[0]
        finally:
            sc.setJobGroup(str(uuid.uuid4()), "idle")

    def execute_json(self, query: dict | str) -> str:
        """Like execute() but never raises: failures return the JSON error
        envelope exactly as the reference's QueryResource does
        (query/query-module-overview.md:60-87)."""
        try:
            return json.dumps(self.execute(query), default=str)
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
        rollup-routed query and the catalog version of the table it reads
        (Druid's per-segment-version cache key); no filesystem access.
        FRESHNESS CONTRACT: ETag and answer change together, exactly on
        (re)registration — ``register_ingested`` publishes an append.
        None unless the dataSource is a registered path-backed table."""
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
        canonical = [dict(query, context=context), ds, snap.version]
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
            # Druid scan compactedList (public v0.12): one batch object
            # with the column list once and each event as a value array —
            # the wire-size-efficient form for wide scans.
            cols = list(rows[0].keys()) if rows else []
            return [
                {
                    "columns": cols,
                    "events": [[iso(r[c]) for c in cols] for r in rows],
                }
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
