"""Each DuckDB template and the live-table expectation agree with the
engine, served over HTTP, on a tiny generated dataset."""

import http.client
import json
import random

import pyarrow.parquet as pq
import pytest

import datagen
import run
import workloads
from server import LIVE_TABLE

TEMPLATES = [workloads.timeseries_events, workloads.topn_events, workloads.topn_lineitem,
             workloads.groupby_events, workloads.groupby_orders, workloads.sql_join]


@pytest.fixture(scope="module")
def stack(tmp_path_factory):
    from coolplaydruid_spark.catalog import FIXTURE_TIME_COLUMNS, Catalog
    from coolplaydruid_spark.engine import DruidEngine
    from coolplaydruid_spark.server.http import DruidHttpServer
    from coolplaydruid_spark.session import get_spark

    root = tmp_path_factory.mktemp("perfbench")
    tables = datagen.make_tables(5, str(root / "data"), datagen.TINY)
    spark = get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=2)
    catalog = Catalog(spark)
    for name, path in tables.items():
        catalog.register(name, path=path, time_column=FIXTURE_TIME_COLUMNS.get(name))
    engine = DruidEngine(spark, catalog)
    server = DruidHttpServer(engine, port=0).start()
    yield {"root": root, "spark": spark, "engine": engine, "port": server.port,
           "duck": run.duck(tables)}
    server.shutdown()


def post(port: int, q) -> bytes:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", q.path, body=q.body, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        body = resp.read()
        assert resp.status == 200, body[:500]
        return body
    finally:
        conn.close()


@pytest.mark.parametrize("template", TEMPLATES, ids=lambda t: t.__name__)
def test_template_agrees_with_engine(stack, template):
    rng = random.Random(template.__name__)
    total_rows = 0
    for _ in range(4):
        q = template(rng)
        ok, rows = run.check_oracle(stack["duck"], q, post(stack["port"], q))
        assert ok, q.body
        total_rows += rows
    assert total_rows > 0  # the comparison was not vacuous


def test_live_expectation_agrees_with_engine(stack):
    from coolplaydruid_spark.sources import batch

    paths = datagen.make_batches(9, str(stack["root"] / "batches"), 3, rows=400)
    table = str(stack["root"] / "live")
    cols = ["event_type", "value"]
    expect = workloads.LiveExpectation(
        [{c: pq.read_table(p, columns=cols)[c].to_numpy() for c in cols} for p in paths], 3)
    queries = workloads.live_queries(3)
    spark, catalog = stack["spark"], stack["engine"].catalog

    def answers():
        return [workloads.rows_from_response(q, json.loads(post(stack["port"], q)))
                for q in queries]

    for k, path in enumerate(paths, start=1):
        task = batch.index_task if k == 1 else batch.append_task
        task(spark, {"format": "parquet", "path": path}, table, time_column="ts",
             sort_by=["event_type"])
        if k > 1:  # an append alone is invisible until the table is registered again
            for i, got in enumerate(answers()):
                assert workloads.rows_match(got, expect.rows_for(i, k - 1)), (i, k)
        batch.register_ingested(catalog, LIVE_TABLE, table, "ts")
        for i, got in enumerate(answers()):
            assert workloads.rows_match(got, expect.rows_for(i, k)), (i, k)
            assert not workloads.rows_match(got, expect.rows_for(i, k - 1)), (i, k)
