"""Rollup materialized views + automatic query routing (rollup.py):
answerable aggregation queries silently read the pre-aggregated table;
results are identical to the raw-table plan; unanswerable shapes fall
back to raw."""

from __future__ import annotations

import pytest

from coolplaydruid_spark.rollup import RollupSpec
from coolplaydruid_spark.sources import batch

ROLLUP_AGGS = [
    {"type": "count", "name": "cnt"},
    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
    {"type": "doubleMax", "name": "max_value", "fieldName": "value"},
    {"type": "hyperUnique", "name": "uniq_users", "fieldName": "user_id"},
]


@pytest.fixture(scope="module")
def rolled_engine(spark, tmp_path_factory):
    """A fresh engine over the fixtures plus a registered hourly rollup
    of events (dims: event_type)."""
    from coolplaydruid_spark.catalog import register_fixtures
    from coolplaydruid_spark.engine import DruidEngine

    import tests.conftest as cf

    dest = str(tmp_path_factory.mktemp("rollup") / "events_hourly")
    batch.index_task(
        spark,
        {"type": "table", "path": f"{cf.SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        rollup={
            "granularity": "hour",
            "dimensions": ["event_type"],
            "aggregations": ROLLUP_AGGS,
        },
    )
    catalog = register_fixtures(spark, cf.SF_DIR)
    batch.register_ingested(catalog, "events_hourly", dest, time_column="ts")
    eng = DruidEngine(spark, catalog)
    eng.register_rollup(
        RollupSpec(
            base="events",
            table="events_hourly",
            granularity="hour",
            dimensions={"event_type"},
            aggregations=ROLLUP_AGGS,
        )
    )
    return eng


DAY_QUERY = {
    "queryType": "timeseries",
    "dataSource": "events",
    "granularity": "day",
    "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
    "aggregations": [
        {"type": "count", "name": "rows"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"},
        {"type": "doubleMax", "name": "peak", "fieldName": "value"},
    ],
    "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
    "context": {"skipEmptyBuckets": True},
}


def _reads_rollup(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "events_hourly" in plan


def test_day_query_routes_to_rollup_and_matches_raw(rolled_engine):
    routed = rolled_engine.plan(DAY_QUERY)
    assert _reads_rollup(routed)
    raw = rolled_engine.plan(
        dict(DAY_QUERY, context={"skipEmptyBuckets": True, "useRollup": False})
    )
    assert not _reads_rollup(raw)
    r1 = [(r.ts_bucket, r.rows, round(r.total, 6), r.peak) for r in routed.collect()]
    r2 = [(r.ts_bucket, r.rows, round(r.total, 6), r.peak) for r in raw.collect()]
    assert r1 == r2


def test_groupby_and_topn_route(rolled_engine):
    gq = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "week",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-29T00:00:00"],
    }
    assert _reads_rollup(rolled_engine.plan(gq))
    tq = {
        "queryType": "topN",
        "dataSource": "events",
        "granularity": "all",
        "dimension": "event_type",
        "metric": "rows",
        "threshold": 3,
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
    }
    routed = rolled_engine.plan(tq)
    assert _reads_rollup(routed)
    raw = rolled_engine.plan(dict(tq, context={"useRollup": False}))
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in raw.collect()]


def test_hyperunique_survives_rollup_fold(rolled_engine):
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "granularity": "day",
        "aggregations": [{"type": "hyperUnique", "name": "uu", "fieldName": "user_id"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
        "context": {"skipEmptyBuckets": True},
    }
    routed = rolled_engine.plan(q)
    assert _reads_rollup(routed)
    raw = rolled_engine.plan(dict(q, context={"skipEmptyBuckets": True, "useRollup": False}))
    # identical HLL algorithm on both paths: union of per-hour sketches
    # estimates exactly like the one-pass sketch
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in raw.collect()]


@pytest.mark.parametrize(
    "mutation",
    [
        # misaligned interval endpoint (00:30 is not an hour boundary)
        {"intervals": ["2024-01-01T00:30:00/2024-02-01T00:00:00"]},
        # filter on a dimension the rollup dropped
        {"filter": {"type": "selector", "dimension": "props", "value": "x"}},
        # aggregator not derivable from rollup metrics
        {"aggregations": [{"type": "doubleSum", "name": "e", "fieldName": "event_id"}]},
        # finer granularity than the rollup
        {"granularity": "minute"},
        # grain that does not nest (week rollup boundary vs month query is
        # fine, but month query on week rollup would not be — here: a
        # 'week' query is answerable from 'hour'; 'none' is not)
        {"granularity": "none"},
    ],
)
def test_unanswerable_shapes_fall_back_to_raw(rolled_engine, mutation):
    q = dict(DAY_QUERY, **mutation)
    assert not _reads_rollup(rolled_engine.plan(q))


def test_virtual_columns_block_routing(rolled_engine):
    q = dict(
        DAY_QUERY,
        virtualColumns=[{"type": "expression", "name": "v2", "expression": "value * 2"}],
    )
    assert not _reads_rollup(rolled_engine.plan(q))


def test_streaming_rollup_sink_is_routable(spark, tmp_path):
    """The realtime rollup sink (closed watermarked windows) registers as
    a rollup view: day queries on the BASE name route to the streaming
    sink and re-aggregate its partials correctly — Druid's realtime
    rollup segments serving historical queries."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from coolplaydruid_spark.catalog import register_fixtures
    from coolplaydruid_spark.engine import DruidEngine
    from coolplaydruid_spark.streaming import realtime

    import tests.conftest as cf

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-03-01T{i % 2:02d}:15:00",
         "event_type": ["click", "view"][i % 2], "value": float(i)}
        for i in range(40)
    ]
    # watermark advancer: closes the 00:00 and 01:00 windows
    rows.append({"event_id": 999, "ts": "2024-03-02T12:00:00",
                 "event_type": "view", "value": 0.0})
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = realtime.file_stream(spark, str(src), schema, fmt="json")
    q = realtime.realtime_index(
        stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), time_column="ts",
        watermark="5 minutes",
        rollup={
            "window": "1 hour",
            "dimensions": ["event_type"],
            "aggregations": [
                ("cnt", F.count(F.lit(1))),
                ("sum_value", F.sum("value")),
            ],
        },
    )
    q.processAllAvailable()
    q.stop()

    from coolplaydruid_spark.rollup import RollupSpec
    from coolplaydruid_spark.sources import batch as b

    catalog = register_fixtures(spark, cf.SF_DIR)
    b.register_ingested(catalog, "stream_hourly", str(tmp_path / "tbl"), time_column="ts")
    eng = DruidEngine(spark, catalog)
    eng.register_rollup(RollupSpec(
        base="events", table="stream_hourly", granularity="hour",
        dimensions={"event_type"},
        aggregations=[
            {"type": "count", "name": "cnt"},
            {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
        ],
    ))
    out = eng.plan({
        "queryType": "groupBy", "dataSource": "events", "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [
            {"type": "count", "name": "rows"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "intervals": ["2024-03-01T00:00:00/2024-03-02T00:00:00"],
    })
    # the scan reads the streaming sink's pre-aggregated schema (the
    # plan string shows the file path, not the registered name)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "sum_value:double" in plan
    got = {r.event_type: (r.rows, r.total) for r in out.collect()}
    assert got == {
        "click": (20, float(sum(i for i in range(40) if i % 2 == 0))),
        "view": (20, float(sum(i for i in range(40) if i % 2 == 1))),
    }


def test_etag_tracks_rollup_table_and_unregister_restores_raw(rolled_engine):
    """The cached-result key must fingerprint the table the query
    actually reads: identical day queries share an ETag while routed,
    and unregister_rollups makes the query read raw again."""
    e1 = rolled_engine.etag(
        __import__("coolplaydruid_spark.rollup", fromlist=["rewrite_with_rollup"])
        .rewrite_with_rollup(rolled_engine._rollups, DAY_QUERY)
    )
    assert e1 is not None
    # etag() routes itself, so the HTTP ETag (unrouted query) and the
    # result-cache key are the same string
    assert rolled_engine.etag(DAY_QUERY) == e1
    assert rolled_engine.unregister_rollups("events") == 1
    try:
        assert not _reads_rollup(rolled_engine.plan(DAY_QUERY))
    finally:
        # re-register for other tests in the module (fixture is shared)
        from coolplaydruid_spark.rollup import RollupSpec

        rolled_engine.register_rollup(RollupSpec(
            base="events", table="events_hourly", granularity="hour",
            dimensions={"event_type"}, aggregations=ROLLUP_AGGS,
        ))


def test_filtered_aggregators_route(rolled_engine):
    """A filtered aggregator whose filter touches only preserved
    dimensions routes: filtered count → filtered longSum(cnt), filtered
    doubleSum → filtered sum-of-sums. A filter on a dropped dimension
    blocks routing for the whole query."""
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "granularity": "day",
        "aggregations": [
            {"type": "count", "name": "rows"},
            {"type": "filtered", "name": "clicks",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "count", "name": "clicks"}},
            {"type": "filtered", "name": "click_total",
             "filter": {"type": "in", "dimension": "event_type",
                        "values": ["click", "view"]},
             "aggregator": {"type": "doubleSum", "name": "click_total",
                            "fieldName": "value"}},
        ],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
        "context": {"skipEmptyBuckets": True},
    }
    routed = rolled_engine.plan(q)
    assert _reads_rollup(routed)
    raw = rolled_engine.plan(
        dict(q, context={"skipEmptyBuckets": True, "useRollup": False})
    )
    assert not _reads_rollup(raw)
    r1 = [(r.ts_bucket, r.rows, r.clicks, round(r.click_total, 6))
          for r in routed.collect()]
    r2 = [(r.ts_bucket, r.rows, r.clicks, round(r.click_total, 6))
          for r in raw.collect()]
    assert r1 == r2 and len(r1) == 7

    # filter over a DROPPED dimension inside the filtered agg → raw
    blocked = dict(q)
    blocked["aggregations"] = [
        {"type": "filtered", "name": "x",
         "filter": {"type": "selector", "dimension": "props", "value": "y"},
         "aggregator": {"type": "count", "name": "x"}},
    ]
    assert not _reads_rollup(rolled_engine.plan(blocked))
