"""GroupBy query (Q3) — multi-dimension grouped aggregation.

Reference: declared at query/query-module-overview.md:25, TOC.md:23; the
GroupByQueryRunner strategy dispatch is walked at
query/query-internal-procedure.md:128-142. Having/limitSpec/nested-query
dataSource are public Druid v0.12 semantics. Guidance at
query/query-module-overview.md:52: groupBy is the most flexible, least
efficient query — timeseries ≡ groupBy with no dimensions and topN ≡
groupBy on one dim + order + limit are exact identities (SURVEY §5.1).
They hold by construction: all three planners run the one aggregation
core in plans/common.py (Aggregation) and add only their own steps, and
the tests still assert both.

Plan shape: one shuffle keyed by (bucket, *dims) with map-side partial
aggregation; having → post-agg filter; limitSpec → global sort + limit
(Spark's TakeOrderedAndProject when limit is present — no full sort at
scale).
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.functions.filters import compile_filter
from coolplaydruid_spark.plans.common import BUCKET, Aggregation


def plan_groupby(engine, query: dict) -> DataFrame:
    core = Aggregation(engine, query, query.get("dimensions") or [])
    subtotals = query.get("subtotalsSpec")
    if subtotals is None:
        out = core.frame()
    elif core.theta.sketches:
        raise ValueError("subtotalsSpec with thetaSketch aggregators is not supported")
    else:
        out = core.frame(group=partial(_grouping_sets, subtotals=subtotals))

    having = compile_having(query.get("having"))
    if having is not None:
        out = out.filter(having)

    return apply_limit_spec(out, query.get("limitSpec"), core.dim_names)


def _grouping_sets(base, keys, key_names, aggs, subtotals):
    """``subtotalsSpec`` (public Druid semantics: the result is the
    concatenation of the groupBy at each listed dimension subset, with
    non-included dimensions null) as ONE native grouping-sets
    aggregation — a single Expand + a single shuffle, not one job per
    subset. The time bucket participates in every set.

    Keys are materialized under collision-proof temp names first (a
    dimension outputName may shadow the source column an aggregator
    reads) and renamed on the way out."""
    if aggs.py_exprs:
        raise ValueError("subtotalsSpec with python-callable aggregators is not supported")
    bucket, dim_cols, dim_names = keys[0], keys[1:], key_names[1:]
    unknown = [d for s in subtotals for d in s if d not in dim_names]
    if unknown:
        raise ValueError(f"subtotalsSpec names not in dimensions: {unknown!r}")
    tmp_b = "__gs_bucket"
    tmp_names = [f"__gs_{i}" for i in range(len(dim_cols))]
    proj = base.select(
        "*", bucket.alias(tmp_b), *[c.alias(t) for c, t in zip(dim_cols, tmp_names)]
    )
    tmp_for = dict(zip(dim_names, tmp_names))
    sets = [
        [F.col(tmp_b), *[F.col(tmp_for[d]) for d in subset]] for subset in subtotals
    ]
    grouped = proj.groupingSets(sets, F.col(tmp_b), *[F.col(t) for t in tmp_names])
    out = grouped.agg(*aggs.exprs)
    return out.select(
        F.col(tmp_b).alias(BUCKET),
        *[F.col(t).alias(n) for t, n in zip(tmp_names, dim_names)],
        *[F.col(n) for n in aggs.names],
    )


def compile_having(spec: dict | None):
    """HavingSpec → boolean Column over the aggregated row (public Druid
    v0.12: and/or/not, equalTo/greaterThan/lessThan, dimSelector, filter)."""
    if spec is None:
        return None
    htype = spec["type"]
    if htype == "and":
        return reduce(lambda a, b: a & b, [compile_having(s) for s in spec["havingSpecs"]])
    if htype == "or":
        return reduce(lambda a, b: a | b, [compile_having(s) for s in spec["havingSpecs"]])
    if htype == "not":
        return ~compile_having(spec["havingSpec"])
    if htype == "greaterThan":
        return F.col(spec["aggregation"]) > F.lit(spec["value"])
    if htype == "lessThan":
        return F.col(spec["aggregation"]) < F.lit(spec["value"])
    if htype == "equalTo":
        return F.col(spec["aggregation"]) == F.lit(spec["value"])
    if htype == "dimSelector":
        return F.col(spec["dimension"]) == F.lit(spec["value"])
    if htype == "filter":
        return compile_filter(spec["filter"])
    raise ValueError(f"unknown having type {htype!r}")


def apply_limit_spec(df: DataFrame, spec: dict | None, dim_names: list[str]) -> DataFrame:
    """DefaultLimitSpec: order the grouped rows by the given columns and
    truncate. Spark turns sort+limit into TakeOrderedAndProject (per-
    partition top-K + merge) — no global sort materialized.

    Ordering semantics: an EXPLICIT dimensionOrder ('lexicographic' /
    'numeric') is honored by casting; with no dimensionOrder the column
    orders in its NATIVE type. For string dimensions that equals Druid's
    lexicographic default; for numeric-outputType dimensions and metric
    columns Druid 0.12 would string-compare by default (the well-known
    '10 < 2' gotcha) — we order numerically instead (documented
    divergence; pass dimensionOrder 'lexicographic' for the faithful
    byte-wise order)."""
    if spec is None:
        return df
    if spec.get("type", "default") != "default":
        raise ValueError(f"unknown limitSpec type {spec.get('type')!r}")
    order_cols = []
    for c in spec.get("columns") or []:
        if isinstance(c, str):
            c = {"dimension": c}
        col = F.col(c["dimension"])
        dim_order = c.get("dimensionOrder")
        desc = c.get("direction") == "descending"
        if dim_order == "numeric":
            col = col.cast("double")
        elif dim_order == "lexicographic":
            col = col.cast("string")
        elif dim_order == "strlen":
            # shorter first, lexicographic tiebreak (Druid's strlen
            # StringComparator — same tuple as topN/search/bound)
            s = col.cast("string")
            order_cols.extend(
                c2.desc() if desc else c2.asc()
                for c2 in (F.length(s), s)
            )
            continue
        elif dim_order == "alphanumeric":
            from coolplaydruid_spark.functions.ordering import alphanumeric_key

            # raw byte order as a deterministic tiebreak (unreachable
            # for NUL-free values — the upstream-exact key is injective)
            s = col.cast("string")
            order_cols.extend(
                c2.desc() if desc else c2.asc()
                for c2 in (alphanumeric_key(col), s)
            )
            continue
        elif dim_order is not None:
            raise ValueError(
                f"unsupported limitSpec dimensionOrder {dim_order!r} "
                "(lexicographic/numeric/strlen/alphanumeric)"
            )
        order_cols.append(col.desc() if desc else col.asc())
    if order_cols:
        df = df.orderBy(*order_cols)
    limit = spec.get("limit")
    if limit is not None:
        df = df.limit(int(limit))
    return df

