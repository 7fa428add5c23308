"""Timeseries query (Q1) — the one fully-specified query type.

Reference: query/query-timeseries.md:1-95. Semantics implemented here:
 - time-bucketed aggregation at ``granularity`` over ``intervals`` (:12,40)
 - nested and/or/selector ``filter`` (:14-25)
 - ``aggregations`` + ``postAggregations`` (:26-39)
 - ``descending`` result order (:13,50)
 - empty buckets inside the intervals are ZERO-FILLED with each
   aggregator's identity (:74-93) unless ``context.skipEmptyBuckets`` (:95)

Plan shape: scan (interval+filter pushed down) → date_trunc groupBy →
partial/final HashAggregate → post-agg projection → left-join of the
one-partition bucket spine against the broadcast aggregate → local sort.
At 100 TB the only shuffle is the aggregation exchange, keyed by the
(low-cardinality) bucket — AQE coalesces the tiny post-agg side; the
spine join is broadcast, and its single-partition output needs no
range-partition exchange to be ordered (``zero_fill``). Without
zero-fill, and above ZERO_FILL_BROADCAST_MAX spine buckets, the sort is
a global one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.plans.common import (
    BUCKET,
    Aggregation,
    bucket_spine,
    grouped_agg,
    query_intervals,
    zero_fill,
)


def _global_agg(base: DataFrame, aggs) -> DataFrame:
    """One row aggregating the whole frame. A global .agg() keeps Druid's
    one-row-even-when-empty semantics; pandas UDAFs need a groupBy, and
    their constant key changes empty-input behavior (0 rows instead of
    one identity row) — accepted for the python-agg path only."""
    if aggs.py_exprs:
        return grouped_agg(
            base.withColumn("__g", F.lit(1)), [F.col("__g")], ["__g"], aggs
        ).drop("__g")
    return base.agg(*aggs.exprs)


def _one_row(base, keys, key_names, aggs) -> DataFrame:
    """Granularity 'all': the single bucket is the global aggregate keyed
    by the interval start — one row even when no row matched."""
    return _global_agg(base, aggs).select(keys[0], *[F.col(n) for n in aggs.names])


def plan_timeseries(engine, query: dict) -> DataFrame:
    core = Aggregation(engine, query)
    context, gran = core.context, core.gran
    if core.theta.sketches and context.get("grandTotal"):
        raise ValueError("context.grandTotal with thetaSketch aggregators is not supported")

    if gran.kind == "all":
        agg_df = core.frame(group=_one_row)
    elif gran.kind == "none" or context.get("skipEmptyBuckets") or not query.get("intervals"):
        agg_df = core.frame()
    else:
        spine, n_buckets = bucket_spine(
            engine.spark, gran, query_intervals(query),
            max_buckets=context.get("maxZeroFillBuckets"),
        )
        agg_df = core.frame(
            fill=lambda df, fills: zero_fill(df, spine, fills, spine_rows=n_buckets)
        )

    order = F.col(BUCKET).desc() if query.get("descending") else F.col(BUCKET).asc()
    out = agg_df.orderBy(order)
    if context.get("grandTotal"):
        # context.grandTotal (public Druid semantics): append ONE final
        # row aggregating the whole interval, keyed by a null timestamp —
        # unconditionally, matching Druid's toolchest (granularity 'all'
        # gets a bucket row AND the total row). Re-aggregating the
        # filtered base (not the bucket rows) keeps non-additive
        # aggregators (min/max/first/last/cardinality) exact; post-aggs
        # then evaluate on the total row like any other.
        null_key = F.lit(None).cast("timestamp").alias(BUCKET)
        total = core.frame(
            group=lambda base, _keys, names, aggs: _one_row(base, [null_key], names, aggs)
        )
        # nulls sort first under asc in Spark — force the total row last
        # on BOTH orders with a rank column dropped after the sort.
        out = (
            out.withColumn("__gt", F.lit(0))
            .unionByName(total.withColumn("__gt", F.lit(1)))
            .orderBy(F.col("__gt").asc(), order)
            .drop("__gt")
        )
    return out

