"""GroupBy (Q3) and TopN (Q2) including having/limitSpec, the topN ≡
groupBy+order+limit identity (query-module-overview.md:53), nested query
dataSources and union dataSources."""

import pytest

from tests.conftest import FILTERED_BIG, KINDS, THETA_USERS, USERS_X2, assert_df_matches_duck

INTERVAL = ["2024-01-01T00:00:00/2024-02-01T00:00:00"]


def test_groupby_multi_dim_oracle(engine, duck):
    q = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [
            {"type": "count", "name": "rows"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "intervals": INTERVAL,
    }
    df = engine.plan(q)
    sql = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts_bucket, event_type,
           CAST(count(*) AS BIGINT) AS rows, sum(value) AS total
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY 1, 2
    """
    assert_df_matches_duck(df, duck, sql)


def test_groupby_having_limit(engine, duck):
    q = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "all",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "doubleSum", "name": "total", "fieldName": "value"}],
        "having": {"type": "greaterThan", "aggregation": "total", "value": 1000.0},
        "limitSpec": {
            "type": "default",
            "columns": [{"dimension": "total", "direction": "descending"}],
            "limit": 3,
        },
        "intervals": INTERVAL,
    }
    df = engine.plan(q).select("event_type", "total")
    sql = """
    SELECT event_type, sum(value) AS total FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY 1 HAVING sum(value) > 1000.0
    ORDER BY total DESC LIMIT 3
    """
    assert_df_matches_duck(df, duck, sql)


TOTAL = [{"type": "doubleSum", "name": "total", "fieldName": "value"}]


@pytest.mark.parametrize("dimension,aggs,posts,metric,vcols", [
    pytest.param("event_type", TOTAL, [], "total", [], id="sum"),
    pytest.param("event_type", [THETA_USERS], [USERS_X2], "users_x2", [], id="theta_hoisted"),
    pytest.param("event_type", [FILTERED_BIG, *TOTAL], [], "big", [], id="filtered"),
    pytest.param("kinds", TOTAL, [], "total", KINDS, id="multi_value"),
    pytest.param(
        {"type": "listFiltered", "values": ["click", "view", "big"],
         "delegate": {"type": "default", "dimension": "kinds", "outputName": "kind"}},
        TOTAL, [], "total", KINDS, id="list_filtered",
    ),
])
def test_topn_equals_groupby_order_limit(engine, dimension, aggs, posts, metric, vcols):
    """Metamorphic identity (query-module-overview.md:53). The groupBy
    limitSpec breaks metric ties by dimension, as topN does."""
    name = dimension if isinstance(dimension, str) else dimension["delegate"]["outputName"]
    common = {
        "dataSource": "events",
        "granularity": "all",
        "virtualColumns": vcols,
        "aggregations": aggs,
        "postAggregations": posts,
        "intervals": INTERVAL,
    }
    topn = dict(common, queryType="topN", dimension=dimension, metric=metric, threshold=3)
    gb = dict(
        common,
        queryType="groupBy",
        dimensions=[dimension],
        limitSpec={
            "type": "default",
            "columns": [{"dimension": metric, "direction": "descending"}, name],
            "limit": 3,
        },
    )

    def rows(q):
        return [
            {k: round(v, 6) if isinstance(v, float) else v for k, v in r.asDict().items()}
            for r in engine.plan(q).collect()
        ]

    t = rows(topn)
    assert t == rows(gb)
    assert len(t) == 3


def test_topn_per_bucket(engine, duck):
    q = {
        "queryType": "topN",
        "dataSource": "events",
        "granularity": "week",
        "dimension": "event_type",
        "metric": "rows",
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": INTERVAL,
    }
    df = engine.plan(q)
    sql = """
    WITH agg AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS ts_bucket, event_type,
             CAST(count(*) AS BIGINT) AS rows
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY ts_bucket
                                   ORDER BY rows DESC, event_type ASC) AS rn
      FROM agg
    )
    SELECT ts_bucket, event_type, rows FROM ranked WHERE rn <= 2
    """
    assert_df_matches_duck(df, duck, sql)


def test_topn_inverted_metric(engine):
    q = {
        "queryType": "topN",
        "dataSource": "events",
        "granularity": "all",
        "dimension": "event_type",
        "metric": {"type": "inverted", "metric": "rows"},
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": INTERVAL,
    }
    rows = engine.plan(q).collect()
    assert len(rows) == 2
    assert rows[0]["rows"] <= rows[1]["rows"]


def test_nested_query_datasource(engine, duck):
    """groupBy over the result of another groupBy
    (query/query-module-overview.md:40)."""
    inner = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "doubleSum", "name": "daily", "fieldName": "value"}],
        "intervals": INTERVAL,
    }
    outer = {
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": inner},
        "granularity": "all",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "doubleMax", "name": "max_daily", "fieldName": "daily"}],
        "intervals": INTERVAL,
    }
    df = engine.plan(outer).select("event_type", "max_daily")
    sql = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, event_type, sum(value) AS daily
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      GROUP BY 1, 2
    )
    SELECT event_type, max(daily) AS max_daily FROM daily GROUP BY 1
    """
    assert_df_matches_duck(df, duck, sql)


def test_union_datasource(engine, duck):
    q = {
        "queryType": "timeseries",
        "dataSource": {"type": "union", "dataSources": ["events", "events"]},
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": INTERVAL,
    }
    df = engine.plan(q).select("rows")
    sql = """
    SELECT CAST(2 * count(*) AS BIGINT) AS rows FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    """
    assert_df_matches_duck(df, duck, sql)


def test_aggregator_suite_oracle(engine, duck):
    """first/last/min/max/filtered/cardinality-exact in one groupBy."""
    q = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "all",
        "dimensions": ["event_type"],
        "aggregations": [
            {"type": "doubleMin", "name": "vmin", "fieldName": "value"},
            {"type": "doubleMax", "name": "vmax", "fieldName": "value"},
            {"type": "doubleFirst", "name": "vfirst", "fieldName": "value"},
            {"type": "doubleLast", "name": "vlast", "fieldName": "value"},
            {"type": "cardinality", "name": "users", "fields": ["user_id"]},
            {
                "type": "filtered",
                "name": "big_rows",
                "filter": {"type": "bound", "dimension": "value", "lower": "100",
                           "ordering": "numeric"},
                "aggregator": {"type": "count", "name": "big_rows"},
            },
        ],
        "intervals": INTERVAL,
        "context": {"useExactCountDistinct": True},
    }
    df = engine.plan(q).drop("ts_bucket")
    sql = """
    SELECT event_type,
           min(value) AS vmin, max(value) AS vmax,
           arg_min(value, ts) AS vfirst, arg_max(value, ts) AS vlast,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users,
           CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS big_rows
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY 1
    """
    assert_df_matches_duck(df, duck, sql)


def test_subtotals_single_expand_single_shuffle(engine):
    """subtotalsSpec plans ONE Expand + ONE aggregation exchange — not a
    union of per-subset jobs (each with its own shuffle)."""
    df = engine.plan({
        "queryType": "groupBy", "dataSource": "events", "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "rows"}],
        "subtotalsSpec": [["event_type"], []],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
    })
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    rows = df.collect()
    # rollup rows carry null for the excluded dimension
    assert any(r.event_type is None for r in rows)
    per_day = {r.ts_bucket: r.rows for r in rows if r.event_type is None}
    by_type_sum = {}
    for r in rows:
        if r.event_type is not None:
            by_type_sum[r.ts_bucket] = by_type_sum.get(r.ts_bucket, 0) + r.rows
    assert per_day == by_type_sum


def test_subtotals_unknown_dim_rejected(engine):
    import pytest as _pt
    with _pt.raises(Exception, match="subtotalsSpec"):
        engine.plan({
            "queryType": "groupBy", "dataSource": "events", "granularity": "all",
            "dimensions": ["event_type"],
            "aggregations": [{"type": "count", "name": "rows"}],
            "subtotalsSpec": [["nope"]],
            "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        })


def test_topn_previous_stop_numeric_and_inverted(spark, engine):
    """previousStop must page in the SPEC's order: numeric ordering
    compares numerically ('10' > '9' numerically), and an inverted spec
    pages downward."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 5}:00:00", v)
         for i, v in enumerate(["5", "9", "10", "20"])],
        "id long, ts string, num_dim string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    engine.catalog.register("ps_events", df=df, time_column="ts")
    base = {
        "queryType": "topN",
        "dataSource": "ps_events",
        "granularity": "all",
        "dimension": "num_dim",
        "threshold": 10,
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
    }
    got = [r.num_dim for r in engine.plan({
        **base,
        "metric": {"type": "dimension", "ordering": "numeric",
                   "previousStop": "9"},
    }).collect()]
    assert got == ["10", "20"]
    got_inv = [r.num_dim for r in engine.plan({
        **base,
        "metric": {"type": "inverted",
                   "metric": {"type": "lexicographic", "previousStop": "20"}},
    }).collect()]
    # descending lexicographic after '20': values strictly below it
    assert got_inv == ["10"]


def test_topn_strlen_ordering_and_paging(engine):
    """strlen dimension ordering (shorter first, lexicographic ties)
    with previousStop paging, incl. the inverted wrapper — r8 addition
    alongside the lexicographic byte-wise fix. Fixture lengths:
    view(4) click(5) error(5) signup(6) purchase(8)."""
    base = {
        "queryType": "topN", "dataSource": "events",
        "granularity": "all", "dimension": "event_type", "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": INTERVAL,
    }
    q1 = dict(base, metric={"type": "dimension", "ordering": "strlen"})
    p1 = [r["event_type"] for r in engine.plan(q1).collect()]
    assert p1 == ["view", "click"]
    q2 = dict(base, metric={"type": "dimension", "ordering": "strlen",
                            "previousStop": p1[-1]})
    p2 = [r["event_type"] for r in engine.plan(q2).collect()]
    assert p2 == ["error", "signup"]
    q3 = dict(base, metric={
        "type": "inverted",
        "metric": {"type": "dimension", "ordering": "strlen",
                   "previousStop": "signup"}})
    p3 = [r["event_type"] for r in engine.plan(q3).collect()]
    assert p3 == ["error", "click"]


def test_topn_lexicographic_numeric_dim_byte_order(engine):
    """Lexicographic ordering over a NUMERIC dimension compares the
    STRING form ('10' < '2') — the paging-fuzzer find pinned."""
    q = {
        "queryType": "topN", "dataSource": "events",
        "granularity": "all", "dimension": "user_id", "threshold": 4,
        "metric": {"type": "dimension", "ordering": "lexicographic"},
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": INTERVAL,
    }
    vals = [str(r["user_id"]) for r in engine.plan(q).collect()]
    assert vals == sorted(vals), vals
    assert vals == ["0", "1", "10", "11"], vals


def test_limitspec_unknown_dimension_order_rejected(engine):
    import pytest

    q = {
        "queryType": "groupBy", "dataSource": "events",
        "granularity": "all", "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": INTERVAL,
        "limitSpec": {"type": "default", "limit": 3,
                      "columns": [{"dimension": "event_type",
                                   "dimensionOrder": "version"}]},
    }
    with pytest.raises(ValueError, match="dimensionOrder"):
        engine.plan(q)
