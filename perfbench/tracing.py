"""Span recording for the traced run, installed into the server process.

The engine is not edited: ``install`` wraps the public functions at each
layer boundary at runtime. A span is (id, parent id, request id, name,
start ns, end ns); spans of one HTTP request share the request id the
load generator sends in the ``X-Perfbench-Request`` header, because a
per-request id inside the query spec would change its ETag and turn
every cache hit into a miss. Spans stay in memory until ``dump``.

Spark-side numbers are read from the Spark UI REST API at the end of the
run and matched to requests through job groups: ``DruidEngine.execute``
sets one per query, and SQL requests get one from the wrapped handler.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import threading
import time
import urllib.request

REQUEST_HEADER = "X-Perfbench-Request"
GROUP_PREFIX = "perfbench-"

# Spark settings for the traced run only: the UI (and its REST API) is
# off in the engine's default session.
UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
}


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.groups: dict[str, str] = {}  # Spark job group -> request id
        self.counters: collections.Counter = collections.Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()

    @property
    def request_id(self):
        return getattr(self._local, "request_id", None)

    @request_id.setter
    def request_id(self, rid):
        self._local.request_id = rid

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "groups": self.groups,
                       "counters": dict(self.counters), **extra}, f)


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        local = self.tracer._local
        stack = local.__dict__.setdefault("stack", [])
        self.sid = next(self.tracer._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.monotonic_ns()
        return self

    def __exit__(self, *exc):
        end = time.monotonic_ns()
        self.tracer._local.stack.pop()
        self.tracer.spans.append((self.sid, self.parent, self.tracer.request_id,
                                  self.name, self.start, end))
        return False


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries named in the benchmark's notes."""
    from pyspark import SparkContext
    from pyspark.sql.classic.dataframe import DataFrame

    from coolplaydruid_spark import catalog, contract, engine
    from coolplaydruid_spark.server import http
    from coolplaydruid_spark.sources import batch

    eng = engine.DruidEngine
    for attr, name in [("execute", "engine.execute"), ("etag", "engine.etag"),
                       ("plan", "plans.plan"), ("serialize", "engine.serialize"),
                       ("sql", "sql.plan")]:
        tracer.wrap(eng, attr, name)
    tracer.wrap(DataFrame, "collect", "spark.collect")
    tracer.wrap(catalog.DataSource, "load", "catalog.table_load")
    tracer.wrap(catalog.Catalog, "register", "catalog.register")
    tracer.wrap(batch, "append_task", "batch.append")
    tracer.wrap(batch, "register_ingested", "batch.register_ingested")
    tracer.wrap(contract, "_spark_llm_corpus_stages", "operators.build")

    emit = eng._emit_metrics

    def count_cache(self, *args, cache_hit=False, **kwargs):
        tracer.counters["cache_hits" if cache_hit else "cache_misses"] += 1
        return emit(self, *args, cache_hit=cache_hit, **kwargs)

    eng._emit_metrics = count_cache

    to_iter = DataFrame.toLocalIterator

    def traced_iter(self, *args, **kwargs):
        # The SQL endpoint drains the iterator while streaming the
        # response; the span covers the whole drain.
        def drain():
            with tracer.span("spark.collect"):
                yield from to_iter(self, *args, **kwargs)
        return drain()

    DataFrame.toLocalIterator = traced_iter

    set_group = SparkContext.setJobGroup

    def note_group(self, group_id, description, interruptOnCancel=False):
        rid = tracer.request_id
        if rid is not None:
            tracer.groups[group_id] = rid
        return set_group(self, group_id, description, interruptOnCancel)

    SparkContext.setJobGroup = note_group

    make_handler = http.make_handler

    def traced_handler(engine_):
        base = make_handler(engine_)

        class Handler(base):
            def do_POST(self):  # noqa: N802
                rid = self.headers.get(REQUEST_HEADER)
                tracer.request_id = rid
                if rid is not None:
                    engine_.spark.sparkContext.setJobGroup(
                        GROUP_PREFIX + rid, "perfbench request")
                try:
                    with tracer.span("http.handle"):
                        super().do_POST()
                finally:
                    tracer.request_id = None

        return Handler

    http.make_handler = traced_handler


def spark_rest(spark, settle_s: float = 1.0, timeout_s: float = 30.0) -> dict:
    """Jobs and stages from the Spark UI REST API, once the listener bus
    has drained (two equal job counts ``settle_s`` apart)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=timeout_s) as r:
            return json.load(r)

    jobs = get("/jobs")
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        time.sleep(settle_s)
        again = get("/jobs")
        if len(again) == len(jobs) and all(j["status"] != "RUNNING" for j in again):
            jobs = again
            break
        jobs = again
    stages = get("/stages")
    keep_job = ("jobId", "jobGroup", "stageIds", "numTasks", "status")
    keep_stage = ("stageId", "attemptId", "status", "numTasks", "executorRunTime",
                  "jvmGcTime", "inputRecords", "shuffleWriteBytes")
    return {"jobs": [{k: j.get(k) for k in keep_job} for j in jobs],
            "stages": [{k: s.get(k) for k in keep_stage} for s in stages]}
