"""movingAverage query type — Druid's movingAverage extension semantics
on the timeseries/groupBy machinery.

The reference declares the query-type taxonomy open-ended
(`query/query-module-overview.md:20-33`); movingAverage is the public
Druid extension whose spec shape mirrors groupBy: `dimensions`,
`aggregations`, `postAggregations`, plus `averagers` — trailing-window
summaries over the last N time buckets of the aggregated series.

Semantics implemented (matching the public extension):
 - The queried interval is internally EXPANDED backward by the largest
   averager window so the first requested bucket has a full trailing
   history; warm-up buckets are trimmed from the result.
 - Missing (bucket, dims) cells are filled with the aggregator's
   IDENTITY before averaging. Aggregators with a zero identity
   (count, sums) give averagers the fixed `buckets` denominator the
   extension documents. min/max have no identity — their empty-bucket
   cells stay NULL and every averager (mean/sum/max/min) skips them,
   so a mean over a sparse max-series divides by the count of
   non-empty buckets. This is the only coherent choice: folding 0
   into a max of negative values (or a min) would fabricate data.
 - Averager types: doubleMean, doubleSum, doubleMax, doubleMin — each
   over its `fieldName` (an aggregator or postAggregator output) with a
   `buckets`-row trailing window.

Plan shape & scale: the inner aggregation is the shared core of
timeseries/topN/groupBy (``plans/common.Aggregation``: ONE data shuffle
keyed on bucket × dims, partial→final HashAggregate), so movingAverage
accepts every input its groupBy inner query does — multi-value and
listFiltered dimensions, thetaSketch aggregators. The grid zero-fill is
``plans/common.zero_fill`` over the dimensions. Everything after the
aggregation — grid join, window, trim — operates on aggregated rows
(#buckets × #dimension-values), orders of magnitude smaller than the
input; the window partitions by the dimension columns, so no
single-partition global sort appears even with millions of dimension
values.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from coolplaydruid_spark.errors import UnknownQueryError
from coolplaydruid_spark.functions.granularity import parse_granularity, parse_interval
from coolplaydruid_spark.plans.common import (
    BUCKET,
    ZERO_FILL_BROADCAST_MAX,
    Aggregation,
    bucket_spine,
    query_intervals,
    zero_fill,
)

_AVERAGER_FNS = {
    "doubleMean": F.avg,
    "doubleSum": F.sum,
    "doubleMax": F.max,
    "doubleMin": F.min,
}


def _prev_bucket(gran, bucket):
    """Driver-side previous-bucket step: the bucket containing one
    microsecond before this bucket's start (exact for every granularity
    kind, including DST-shifted period buckets)."""
    return gran.bucket_py(bucket - timedelta(microseconds=1))


def _expand_intervals(gran, intervals: list[str], warmup: int) -> list[str]:
    out = []
    for iv in intervals:
        start, end = parse_interval(iv)
        b = gran.bucket_py(start)
        for _ in range(warmup):
            b = _prev_bucket(gran, b)
        out.append(f"{b.isoformat()}/{end.isoformat()}")
    return out


def plan_moving_average(engine, query: dict) -> DataFrame:
    context = query.get("context") or {}
    gran = parse_granularity(query.get("granularity", "all"))
    if gran.kind in ("all", "none"):
        raise UnknownQueryError(
            "movingAverage requires a bucketing granularity",
            error_class="IllegalArgumentException",
        )
    intervals = query_intervals(query)
    if not intervals:
        raise UnknownQueryError(
            "movingAverage requires intervals", error_class="IllegalArgumentException"
        )
    averagers = query.get("averagers") or []
    for av in averagers:
        if av.get("type") not in _AVERAGER_FNS:
            raise UnknownQueryError(
                f"unknown averager type {av.get('type')!r}",
                error_class="IllegalArgumentException",
            )
    warmup = max((int(av.get("buckets", 1)) for av in averagers), default=1) - 1
    expanded = _expand_intervals(gran, intervals, warmup)

    # Inner aggregation over the EXPANDED intervals — the shared core,
    # the one data-sized shuffle in the plan — zero-filled over the full
    # spine × dimension-combination grid: averagers must see explicit
    # identity rows for empty buckets (fixed denominator).
    core = Aggregation(engine, dict(query, intervals=expanded), query.get("dimensions") or [])
    dim_names = core.dim_names
    spine, n_buckets = bucket_spine(
        engine.spark, gran, expanded, max_buckets=context.get("maxZeroFillBuckets")
    )
    filled = core.frame(
        fill=lambda df, fills: zero_fill(df, spine, fills, dims=dim_names, spine_rows=n_buckets)
    )

    # With no dimensions the window is a single partition — by design:
    # its input is the aggregated series (#buckets rows, e.g. 365 for a
    # year of days), not the data. Spark's single-partition warning is
    # about data-sized windows; this one is bucket-sized.
    w_base = Window.partitionBy(*[F.col(d) for d in dim_names]).orderBy(F.col(BUCKET))
    for av in averagers:
        n = int(av.get("buckets", 1))
        fn = _AVERAGER_FNS[av["type"]]
        w = w_base.rowsBetween(-(n - 1), 0)
        filled = filled.withColumn(av["name"], fn(F.col(av["fieldName"])).over(w))

    # Trim the warm-up buckets: keep only buckets of the ORIGINAL
    # intervals' spine (tiny, broadcast semi-join; hint dropped for
    # pathological spine sizes so AQE decides).
    orig_spine, n_orig = bucket_spine(
        engine.spark, gran, intervals, max_buckets=context.get("maxZeroFillBuckets")
    )
    out = filled.join(
        F.broadcast(orig_spine) if n_orig <= ZERO_FILL_BROADCAST_MAX else orig_spine,
        on=BUCKET, how="left_semi",
    )
    order = F.col(BUCKET).desc() if query.get("descending") else F.col(BUCKET).asc()
    return out.orderBy(order, *[F.col(d) for d in dim_names])
