import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coolplaydruid_spark.catalog import register_fixtures  # noqa: E402
from coolplaydruid_spark.engine import DruidEngine  # noqa: E402
from coolplaydruid_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Aggregator inputs for the timeseries/topN/movingAverage ≡ groupBy identity
# tests, one per path of the shared aggregation core: a thetaSketch alone
# (placeholder count) with an arithmetic post-agg over its estimate
# (hoisted), and a filtered aggregator.
THETA_USERS = {"type": "thetaSketch", "name": "users", "fieldName": "user_id"}
USERS_X2 = {
    "type": "arithmetic", "name": "users_x2", "fn": "*",
    "fields": [
        {"type": "thetaSketchEstimate", "field": {"type": "fieldAccess", "fieldName": "users"}},
        {"type": "constant", "value": 2},
    ],
}
FILTERED_BIG = {
    "type": "filtered", "name": "big",
    "filter": {"type": "bound", "dimension": "value", "lower": "100", "ordering": "numeric"},
    "aggregator": {"type": "doubleSum", "name": "big", "fieldName": "value"},
}
# A multi-value dimension on events: each row is its event_type and its
# size class. Multi-value and listFiltered dimensions explode before grouping.
KINDS = [{
    "type": "expression", "name": "kinds", "dialect": "sql",
    "expression": "array(event_type, CASE WHEN value >= 100 THEN 'big' ELSE 'small' END)",
}]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="coolplaydruid_tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def catalog(spark):
    return register_fixtures(spark, SF_DIR)


@pytest.fixture(scope="session")
def engine(spark, catalog):
    return DruidEngine(spark, catalog)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")  # match Spark's UTC session
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con


def assert_df_matches_duck(df, duck, sql, sort_cols=None):
    """Order-insensitive comparison of a Spark DataFrame against a DuckDB
    query — mirrors the driver's oracle check (row count + values)."""
    import math

    spark_rows = [tuple(r) for r in df.collect()]
    duck_rows = [tuple(r) for r in duck.execute(sql).fetchall()]

    def norm(row):
        out = []
        for v in row:
            if isinstance(v, float):
                out.append(round(v, 6))
            else:
                out.append(v)
        return tuple(out)

    s = sorted((norm(r) for r in spark_rows), key=lambda t: tuple(map(str, t)))
    d = sorted((norm(r) for r in duck_rows), key=lambda t: tuple(map(str, t)))
    assert len(s) == len(d), f"row count {len(s)} != {len(d)}\nspark={s[:5]}\nduck={d[:5]}"
    for a, b in zip(s, d):
        for va, vb in zip(a, b):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-6), (a, b)
            else:
                assert va == vb, (a, b)
