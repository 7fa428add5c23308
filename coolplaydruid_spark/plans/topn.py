"""TopN query (Q2) — grouped aggregation over ONE dimension, top N by a
metric, per time bucket.

Reference: declared at query/query-module-overview.md:24, TOC.md:22;
guidance ":51-53" (recommended over groupBy for single-dim ranking).
Druid computes topN *approximately* (per-segment top-K then merge — public
v0.12 behavior); we implement it EXACTLY (documented divergence, SURVEY
§2.1 Q2): a single groupBy shuffle then per-bucket ranking.

Plan shape at scale: partial/final HashAggregate on (bucket, dim), then a
window row_number partitioned by bucket. The window's sort is per bucket
over #distinct-dim rows — already reduced by the aggregation, so no
full-data sort. For the common single-bucket case Spark rewrites
sort+limit to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from coolplaydruid_spark.plans.common import BUCKET, Aggregation


def plan_topn(engine, query: dict) -> DataFrame:
    # thetaSketch aggregators are legal in topN (e.g. rank dimensions by
    # distinct-user overlap); the core joins them back on (bucket, dim).
    core = Aggregation(engine, query, [query["dimension"]])
    dim_name = core.dim_names[0]
    threshold = int(query["threshold"])
    out = core.frame()

    metric = query.get("metric")
    ps = _previous_stop(metric)
    if ps is not None:
        # previousStop (dimension/lexicographic metric spec): resume the
        # paging strictly AFTER this value IN THE SPEC'S ORDER — Druid's
        # topN paging contract. The comparison must match the ordering
        # (numeric specs compare numerically, not lexically) and the
        # direction (an inverted spec pages downward). Applied
        # post-aggregation (dimension-cardinality rows), before ranking.
        stop, ordering, inv = ps
        if ordering == "numeric":
            c, s = F.col(dim_name).try_cast("double"), F.lit(float(stop))
            out = out.where(c < s if inv else c > s)
        elif ordering == "strlen":
            c = F.col(dim_name).cast("string")
            sv = str(stop)
            after = (F.length(c) > len(sv)) | (
                (F.length(c) == len(sv)) & (c > F.lit(sv)))
            before = (F.length(c) < len(sv)) | (
                (F.length(c) == len(sv)) & (c < F.lit(sv)))
            out = out.where(before if inv else after)
        elif ordering == "alphanumeric":
            from coolplaydruid_spark.functions.ordering import (
                alphanumeric_key,
                alphanumeric_key_py,
            )

            # composite (key, raw) comparison matching _metric_order's
            # tie-broken ordering (the upstream-exact key is injective
            # on NUL-free values, so the raw leg is belt-and-braces)
            c = alphanumeric_key(F.col(dim_name))
            s = F.lit(alphanumeric_key_py(str(stop)))
            raw, rawlit = F.col(dim_name).cast("string"), F.lit(str(stop))
            after = (c > s) | ((c == s) & (raw > rawlit))
            before = (c < s) | ((c == s) & (raw < rawlit))
            out = out.where(before if inv else after)
        else:
            # lexicographic: STRING comparison even for numeric dims —
            # a bare long-vs-string comparison would coerce numeric and
            # break the paging order (paging fuzzer find, r8)
            c, s = F.col(dim_name).cast("string"), F.lit(str(stop))
            out = out.where(c < s if inv else c > s)
    order = _metric_order(metric, dim_name, inverted=False)
    if core.gran.kind == "all":
        # Single bucket: the bucket column is a constant, so a
        # partitionBy(BUCKET) window would constant-fold to a global
        # (single-partition) sort. orderBy+limit instead plans as
        # TakeOrderedAndProject — each task keeps its local top-k, the
        # driver merges k-sized heaps. No full sort, no single-task
        # window, regardless of dimension cardinality.
        return out.orderBy(*order).limit(threshold)
    w = Window.partitionBy(BUCKET).orderBy(*order)
    return (
        out.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= threshold)
        .drop("__rank")
        .orderBy(F.col(BUCKET).asc(), *order)
    )


def _metric_order(metric, dim_name: str, inverted: bool):
    """TopNMetricSpec → ordering columns. String → numeric metric
    descending (largest first); {'type':'numeric'} same;
    {'type':'inverted'} flips the wrapped spec; {'type':'dimension'|
    'lexicographic'} orders by dimension value ascending. Ties broken by
    dimension for determinism."""
    if isinstance(metric, str):
        col = F.col(metric)
        return [col.asc() if inverted else col.desc(), F.col(dim_name).asc()]
    mtype = metric.get("type", "numeric")
    if mtype == "numeric":
        col = F.col(metric["metric"])
        return [col.asc() if inverted else col.desc(), F.col(dim_name).asc()]
    if mtype == "inverted":
        return _metric_order(metric["metric"], dim_name, inverted=not inverted)
    if mtype in ("dimension", "lexicographic"):
        ordering = metric.get("ordering", "lexicographic")
        col = F.col(dim_name)
        if ordering == "numeric":
            col = col.cast("double")
        elif ordering == "lexicographic":
            # Druid dimension values are strings: lexicographic means
            # BYTE-WISE order even for numeric-typed columns ('10' <
            # '2') — found by the paging fuzzer walking user_id.
            col = col.cast("string")
        elif ordering == "strlen":
            # Druid's strlen StringComparator: shorter first, ties
            # lexicographic (same tuple as functions/filters._bound).
            s = col.cast("string")
            cols = [F.length(s), s]
            return [c.desc() if inverted else c.asc() for c in cols]
        elif ordering == "alphanumeric":
            from coolplaydruid_spark.functions.ordering import alphanumeric_key

            # raw byte order as a deterministic tiebreak (unreachable
            # for NUL-free values — the upstream-exact key encodes the
            # zero-count, so distinct values get distinct keys)
            cols = [alphanumeric_key(col), col.cast("string")]
            return [c.desc() if inverted else c.asc() for c in cols]
        else:
            raise ValueError(
                f"unsupported dimension ordering {ordering!r} for topN "
                "(lexicographic/numeric/strlen/alphanumeric)"
            )
        return [col.desc() if inverted else col.asc()]
    raise ValueError(f"unknown topN metric spec {metric!r}")


def _previous_stop(metric, inverted: bool = False):
    """(previousStop, ordering, inverted) from a dimension/lexicographic
    metric spec, tracking inversion through wrappers; None when absent."""
    if not isinstance(metric, dict):
        return None
    if metric.get("type") == "inverted":
        return _previous_stop(metric.get("metric"), not inverted)
    if metric.get("type") in ("dimension", "lexicographic"):
        stop = metric.get("previousStop")
        if stop is None:
            return None
        return stop, metric.get("ordering", "lexicographic"), inverted
    return None

