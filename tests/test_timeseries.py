"""Timeseries (Q1) — the reference's one fully-spec'd query type
(query/query-timeseries.md), including its golden zero-fill case."""

from datetime import datetime

import pytest

from tests.conftest import FILTERED_BIG, THETA_USERS, USERS_X2, assert_df_matches_duck

# The Timeseries example query from query/query-timeseries.md:8-41,
# translated onto the events fixture (FIXTURES.md golden case 1).
EXAMPLE = {
    "queryType": "timeseries",
    "dataSource": "events",
    "granularity": "day",
    "descending": False,
    "filter": {
        "type": "and",
        "fields": [
            {"type": "selector", "dimension": "event_type", "value": "click"},
            {
                "type": "or",
                "fields": [
                    {"type": "selector", "dimension": "event_type", "value": "click"},
                    {"type": "selector", "dimension": "event_type", "value": "purchase"},
                ],
            },
        ],
    },
    "aggregations": [
        {"type": "longSum", "name": "sample_name1", "fieldName": "event_id"},
        {"type": "doubleSum", "name": "sample_name2", "fieldName": "value"},
    ],
    "postAggregations": [
        {
            "type": "arithmetic",
            "name": "sample_divide",
            "fn": "/",
            "fields": [
                {"type": "fieldAccess", "fieldName": "sample_name1"},
                {"type": "fieldAccess", "fieldName": "sample_name2"},
            ],
        }
    ],
    "intervals": ["2024-01-01T00:00:00/2024-01-11T00:00:00"],
}


def test_timeseries_example_shape(engine):
    rows = engine.execute(EXAMPLE)
    # 10 day buckets, zero-filled, ascending
    assert len(rows) == 10
    assert rows[0]["timestamp"].startswith("2024-01-01")
    assert set(rows[0]["result"]) == {"sample_name1", "sample_name2", "sample_divide"}


def test_timeseries_oracle(engine, duck):
    df = engine.plan(EXAMPLE)
    sql = """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-10',
                                    INTERVAL 1 DAY)) AS ts_bucket
    ), agg AS (
      SELECT date_trunc('day', ts) AS ts_bucket,
             CAST(sum(event_id) AS BIGINT) AS sample_name1,
             sum(value) AS sample_name2
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-11'
        AND event_type = 'click'
        AND (event_type = 'click' OR event_type = 'purchase')
      GROUP BY 1
    )
    SELECT spine.ts_bucket,
           COALESCE(sample_name1, 0) AS sample_name1,
           COALESCE(sample_name2, 0.0) AS sample_name2,
           CASE WHEN COALESCE(sample_name2, 0.0) = 0 THEN 0.0
                ELSE COALESCE(sample_name1, 0) / sample_name2 END AS sample_divide
    FROM spine LEFT JOIN agg USING (ts_bucket)
    """
    assert_df_matches_duck(df, duck, sql)


def test_zero_fill_and_skip_empty(engine):
    # Golden case 2 (FIXTURES.md / query-timeseries.md:74-95): an interval
    # whose tail has no data still yields buckets with identity values...
    q = dict(EXAMPLE)
    q["intervals"] = ["2024-01-28T00:00:00/2024-02-03T00:00:00"]
    q["filter"] = {"type": "selector", "dimension": "event_type", "value": "click"}
    rows = engine.execute(q)
    assert len(rows) == 6  # all buckets present
    by_ts = {r["timestamp"][:10]: r["result"] for r in rows}
    # events data ends 2024-01-30; Feb buckets must be zero-filled
    assert by_ts["2024-02-01"]["sample_name1"] == 0
    assert by_ts["2024-02-01"]["sample_name2"] == 0.0
    assert by_ts["2024-02-01"]["sample_divide"] == 0.0

    # ...and with skipEmptyBuckets the empty buckets are absent (:95).
    q2 = dict(q)
    q2["context"] = {"skipEmptyBuckets": True}
    rows2 = engine.execute(q2)
    assert len(rows2) < 6
    assert all(r["result"]["sample_name1"] != 0 or r["result"]["sample_name2"] != 0
               for r in rows2)


def test_descending(engine):
    q = dict(EXAMPLE)
    q["descending"] = True
    rows = engine.execute(q)
    ts = [r["timestamp"] for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_granularity_all(engine):
    q = dict(EXAMPLE)
    q["granularity"] = "all"
    rows = engine.execute(q)
    assert len(rows) == 1
    assert rows[0]["timestamp"].startswith("2024-01-01")


def test_granularity_hour_and_duration_equivalent(engine):
    base = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
        "aggregations": [{"type": "count", "name": "rows"}],
    }
    q_hour = dict(base, granularity="hour")
    q_dur = dict(base, granularity={"type": "duration", "duration": 3600000})
    rows_h = engine.execute(q_hour)
    rows_d = engine.execute(q_dur)
    assert rows_h == rows_d
    assert len(rows_h) == 24


def test_period_granularity_with_timezone(engine):
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01T00:00:00/2024-01-05T00:00:00"],
        "granularity": {"type": "period", "period": "P1D", "timeZone": "America/Los_Angeles"},
        "aggregations": [{"type": "count", "name": "rows"}],
        "context": {"skipEmptyBuckets": True},
    }
    rows = engine.execute(q)
    # LA is UTC-8 in January: day buckets start at 08:00 UTC
    assert all(r["timestamp"].endswith("T08:00:00Z") for r in rows)


def test_period_timezone_zero_fill_alignment(engine):
    """tz-aware zero-fill: the driver-side spine must bucket in the same
    zone as the Spark-side aggregate (granularity.bucket_py honoring
    time_zone) — a mismatch makes the left join drop every real aggregate
    row and return all-zero buckets."""
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01T00:00:00/2024-01-05T00:00:00"],
        "granularity": {"type": "period", "period": "P1D", "timeZone": "America/Los_Angeles"},
        "aggregations": [{"type": "count", "name": "rows"}],
    }
    filled = engine.execute(q)
    skipped = engine.execute(dict(q, context={"skipEmptyBuckets": True}))
    assert all(r["timestamp"].endswith("T08:00:00Z") for r in filled)
    nonzero = {r["timestamp"]: r["result"]["rows"] for r in filled if r["result"]["rows"]}
    assert nonzero == {r["timestamp"]: r["result"]["rows"] for r in skipped}
    assert nonzero, "zero-fill dropped every real aggregate bucket"


@pytest.mark.parametrize("aggs,posts", [
    pytest.param(EXAMPLE["aggregations"], EXAMPLE["postAggregations"], id="example"),
    pytest.param([THETA_USERS], [USERS_X2], id="theta_hoisted"),
    pytest.param([FILTERED_BIG, {"type": "count", "name": "rows"}], [], id="filtered"),
])
def test_timeseries_equals_groupby_no_dims(engine, aggs, posts):
    """Metamorphic identity (query-module-overview.md:51-52): timeseries ≡
    groupBy with zero dimensions."""
    ts_rows = engine.execute(dict(
        EXAMPLE, aggregations=aggs, postAggregations=posts,
        context={"skipEmptyBuckets": True},
    ))
    gb = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "day",
        "dimensions": [],
        "filter": EXAMPLE["filter"],
        "aggregations": aggs,
        "postAggregations": posts,
        "intervals": EXAMPLE["intervals"],
    }
    gb_rows = engine.execute(gb)
    ts_map = {r["timestamp"]: r["result"] for r in ts_rows}
    gb_map = {r["timestamp"]: r["event"] for r in gb_rows}
    assert ts_map and ts_map == gb_map


def test_degenerate_interval_returns_empty(engine):
    """A zero-width interval yields zero buckets — an empty result, not a
    schema-inference error (empty-spine regression guard)."""
    rows = engine.execute(
        {
            "queryType": "timeseries",
            "dataSource": "events",
            "granularity": "day",
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01T00:00:00/2024-01-01T00:00:00"],
        }
    )
    assert rows == []


def test_grand_total_row_is_last_both_orders(engine):
    base = {
        "queryType": "timeseries",
        "dataSource": "events",
        "granularity": "day",
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
        "context": {"skipEmptyBuckets": True, "grandTotal": True},
    }
    rows = engine.plan(base).collect()
    assert rows[-1].ts_bucket is None
    assert rows[-1].rows == sum(r.rows for r in rows[:-1])
    desc = engine.plan({**base, "descending": True}).collect()
    assert desc[-1].ts_bucket is None
    assert [r.ts_bucket for r in desc[:-1]] == sorted(
        (r.ts_bucket for r in desc[:-1]), reverse=True
    )


def test_grand_total_emitted_for_granularity_all(engine):
    rows = engine.plan({
        "queryType": "timeseries",
        "dataSource": "events",
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
        "context": {"grandTotal": True},
    }).collect()
    assert len(rows) == 2
    assert rows[0].ts_bucket is not None and rows[1].ts_bucket is None
    assert rows[0].rows == rows[1].rows
