"""The benchmark's pure parts: generators, cache fit, percentile math."""

import inspect
import random

import numpy as np
import pytest

import datagen
import stats
import workloads


def bodies(queries):
    return [(q.path, q.body) for q in queries]


def test_generators_are_deterministic_per_seed():
    a = workloads.distinct_queries(7, 200)
    assert bodies(a) == bodies(workloads.distinct_queries(7, 200))
    assert bodies(a) != bodies(workloads.distinct_queries(8, 200))
    assert workloads.zipf_draws(7, 48, 500) == workloads.zipf_draws(7, 48, 500)


def test_tables_are_deterministic_per_seed(tmp_path):
    first = datagen.make_corpus(3, str(tmp_path / "a"), n_docs=100)
    second = datagen.make_corpus(3, str(tmp_path / "b"), n_docs=100)
    assert set(first) == {"events", "region", "nation", "customer", "orders", "lineitem",
                          "documents", "embeddings", "supplier", "part"}
    for name in first:
        with open(first[name], "rb") as f1, open(second[name], "rb") as f2:
            assert f1.read() == f2.read(), name


def test_cold_specs_are_pairwise_distinct():
    qs = workloads.distinct_queries(1, 3000)
    assert len(set(bodies(qs))) == len(qs)


def test_cold_mix_follows_the_rotation():
    kinds = [q.kind for q in workloads.distinct_queries(5, 200)]
    share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
    assert share == {"timeseries": 0.35, "topN": 0.25, "groupBy": 0.25, "sql": 0.15}


def test_hot_set_fits_the_result_cache():
    from coolplaydruid_spark.engine import DruidEngine

    cache = inspect.signature(DruidEngine).parameters["result_cache_entries"].default
    hot = workloads.distinct_queries(1, workloads.HOT_SPECS, workloads.HOT_MIX, stream=2)
    assert len(set(bodies(hot))) == workloads.HOT_SPECS <= cache
    assert all(q.path == workloads.NATIVE for q in hot)
    draws = workloads.zipf_draws(1, workloads.HOT_SPECS, 20_000)
    assert set(draws) <= set(range(workloads.HOT_SPECS))
    counts = np.bincount(draws, minlength=workloads.HOT_SPECS)
    assert counts.max() > 10 * np.median(counts)  # skewed, not uniform


def test_hot_and_live_specs_carry_no_request_id():
    for q in workloads.distinct_queries(1, 50, workloads.HOT_MIX, stream=2):
        assert b"queryId" not in q.body


@pytest.mark.parametrize("n", [1, 2, 5, 10, 101])
def test_percentile_matches_numpy(n):
    rng = random.Random(n)
    xs = [rng.uniform(0, 100) for _ in range(n)]
    for q in (0, 50, 75, 90, 95, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_supported_percentile_keeps_ten_samples_beyond():
    assert stats.supported_percentile(10_000) == 99.9
    assert stats.supported_percentile(9_999) == 99.0
    assert stats.supported_percentile(1000) == 99.0
    assert stats.supported_percentile(200) == 95.0
    assert stats.supported_percentile(150) == 90.0
    assert stats.supported_percentile(20) == 50.0


def test_ratio_and_median():
    assert stats.ratio(3, 4) == 0.75
    assert stats.ratio(3, 0) == 0.0
    assert stats.median([]) == 0.0
    assert stats.median([3, 1, 2]) == 2


def test_rows_match_tolerates_float_order_only():
    assert workloads.rows_match([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert not workloads.rows_match([("a", 1, 0.3)], [("a", 2, 0.3)])
    assert not workloads.rows_match([("a", 1, 0.3)], [("a", 1, 0.31)])
    assert not workloads.rows_match([("a", 1), ("b", 2)], [("b", 2), ("a", 1)])
    assert workloads.rows_match([("a", 1), ("b", 2)], [("b", 2), ("a", 1)], ordered=False)
