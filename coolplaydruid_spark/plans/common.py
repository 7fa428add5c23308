"""Shared planning helpers: interval filtering, the filtered base frame,
the aggregation core of timeseries/topN/groupBy/movingAverage, and the
zero-fill bucket spine."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.catalog import RAW_TIME_NS, TIME_COLUMN
from coolplaydruid_spark.functions.aggregators import compile_aggregators
from coolplaydruid_spark.functions.extraction import (
    dimension_column,
    rewrite_list_filtered,
    unwrap_list_filtered,
)
from coolplaydruid_spark.functions.filters import compile_filter
from coolplaydruid_spark.functions.granularity import (
    Granularity,
    intervals_predicate,
    parse_granularity,
    parse_interval,
)
from coolplaydruid_spark.functions.postaggs import compile_post_aggregators
from coolplaydruid_spark.functions.theta import attach_theta, split_query

BUCKET = "ts_bucket"

_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)


def _epoch_ns(dt: datetime) -> int:
    """Naive-UTC datetime → epoch nanoseconds, exact integer arithmetic
    (float .timestamp() loses sub-second precision past 2^53 ns)."""
    return ((dt - _EPOCH) // _US) * 1000


def query_intervals(query: dict) -> list[str]:
    """The query's ``intervals`` as a list (Druid also accepts one string)."""
    intervals = query.get("intervals") or []
    return [intervals] if isinstance(intervals, str) else list(intervals)


def grouped_agg(base: DataFrame, key_cols: list, key_names: list[str], aggs) -> DataFrame:
    """groupBy + agg handling the JVM/pandas split: GROUPED_AGG pandas
    UDF aggregates (CompiledAggs.py_exprs) cannot share an agg() with JVM
    aggregates, so they run as a second groupBy over the same keys joined
    back (the keys are identical, so the join is a co-partitioned merge of
    two already-shuffled sides — AQE handles the small result)."""
    if aggs.py_exprs and aggs.exprs:
        jvm = base.groupBy(*key_cols).agg(*aggs.exprs)
        py = base.groupBy(*key_cols).agg(*aggs.py_exprs)
        return jvm.join(py, on=key_names, how="inner")
    if aggs.py_exprs:
        return base.groupBy(*key_cols).agg(*aggs.py_exprs)
    return base.groupBy(*key_cols).agg(*aggs.exprs)


def _lookup_resolver(engine):
    """name -> bounded {key: value} dict for Druid-expression lookup().
    Same inlining cap as the SQL LOOKUP shim; oversized lookups raise
    toward the broadcast-join path (registeredLookup extractionFn)."""
    if engine is None:
        return None
    from coolplaydruid_spark.sqlcompat import MAX_INLINE_LOOKUP_ENTRIES

    def resolve(name: str) -> dict:
        df_l = engine.catalog.lookup(name)
        rows = df_l.limit(MAX_INLINE_LOOKUP_ENTRIES + 1).collect()
        if len(rows) > MAX_INLINE_LOOKUP_ENTRIES:
            raise ValueError(
                f"lookup {name!r} exceeds {MAX_INLINE_LOOKUP_ENTRIES} entries; "
                "use the registeredLookup extractionFn (broadcast join)"
            )
        out = {}
        for r in rows:  # last-write-wins, like the SQL shim
            out[r["key"]] = r["value"]
        return out

    return resolve


def apply_virtual_columns(df: DataFrame, query: dict, engine=None) -> DataFrame:
    """``virtualColumns``: computed columns usable by filters, dimensions
    and aggregators of the same query (public Druid expression virtual
    columns). The PRIMARY dialect is Druid's own expression language
    (functions/druidexpr.py — ``timestamp_floor(__time,'PT1H')``,
    ``nvl()``, ``if()``, Druid's long/long integral division and
    ``^``-as-power), so a real Druid query runs unmodified; sources
    outside that subset fall back to Spark SQL, which remains fully
    supported. An explicit ``"dialect": "sql"``/``"druid"`` key pins
    one dialect (Druid spec extension — absent keys are ignored by
    Druid itself). Each column is a projection folded into whole-stage
    codegen; Catalyst still pushes filters on *source* columns beneath
    the Project, so scan pruning is unaffected."""
    from coolplaydruid_spark.functions.druidexpr import (
        DruidExprError,
        compile_druid_expr,
    )

    lookups = _lookup_resolver(engine)
    for vc in query.get("virtualColumns") or []:
        vtype = vc.get("type", "expression")
        if vtype != "expression":
            raise ValueError(f"unknown virtualColumn type {vtype!r}")
        dialect = vc.get("dialect")
        if dialect == "sql":
            col = F.expr(vc["expression"])
        elif dialect == "druid":
            col = compile_druid_expr(vc["expression"], df, lookups=lookups)
        else:
            try:
                col = compile_druid_expr(vc["expression"], df, lookups=lookups)
            except DruidExprError:
                col = F.expr(vc["expression"])
        df = df.withColumn(vc["name"], col)
    return df


def filtered_frame(df: DataFrame, query: dict, engine=None) -> DataFrame:
    """Apply the query's ``virtualColumns``, ``intervals`` + ``filter``
    to the dataSource frame. ``engine`` (optional) supplies the lookup
    registry for Druid-expression ``lookup()``.

    The predicates are plain Columns, so Catalyst pushes them into the
    Parquet scan: the intervals predicate is the Spark analogue of Druid's
    interval→segment pruning (query/query-internal-procedure.md:7), and
    dimension filters land in PushedFilters (≈ bitmap-index skipping,
    TOC.md:39-40).
    """
    df = apply_virtual_columns(df, query, engine=engine)
    intervals = query_intervals(query)
    if intervals:
        df = df.filter(intervals_predicate(intervals, F.col(TIME_COLUMN)))
        # Tables whose Parquet time column is raw int64 nanos carry a
        # RAW_TIME_NS shadow (catalog.py): the __time predicate above is
        # arithmetic over the scan column (not pushable), so also emit the
        # equivalent plain int64 range — Catalyst pushes it through the
        # Project into PushedFilters, restoring row-group skipping.
        if RAW_TIME_NS in df.columns:
            ns_pred = None
            for iv in intervals:
                start, end = parse_interval(iv)
                p = (F.col(RAW_TIME_NS) >= F.lit(_epoch_ns(start))) & (
                    F.col(RAW_TIME_NS) < F.lit(_epoch_ns(end))
                )
                ns_pred = p if ns_pred is None else (ns_pred | p)
            df = df.filter(ns_pred)
        # Segment pruning (query/query-internal-procedure.md:7): on tables
        # ingested by sources.batch the partition column __dt carries the
        # date — derive an explicit __dt predicate so Catalyst prunes
        # whole partition directories, not just row groups.
        if "__dt" in df.columns:
            dt_pred = None
            for iv in intervals:
                start, end = parse_interval(iv)
                p = (F.col("__dt") >= F.lit(str(start.date()))) & (
                    F.col("__dt") <= F.lit(str(end.date()))
                )
                dt_pred = p if dt_pred is None else (dt_pred | p)
            df = df.filter(dt_pred)
    pred = compile_filter(query.get("filter"), df)
    if pred is not None:
        df = df.filter(pred)
    return df


def dimension_columns(base: DataFrame, dimensions: list) -> tuple[DataFrame, list, list[str]]:
    """(base, grouping columns, output names) for DimensionSpecs.

    Multi-value string dimensions (public Druid 0.12 semantics, SURVEY
    §1.1/§7.5.7): a row with an array-valued dimension groups once per
    element — the filter has already run with any-element semantics, so
    explode only for the grouping. listFiltered element-filters into a
    TEMP column (never the source — aggregators over the same multi-value
    dimension must still see the row's real values) and behaves as the
    rewritten delegate; the temp column is array-typed too."""
    if not dimensions:
        return base, [], []
    array_dims = {f.name for f in base.schema.fields if f.dataType.typeName() == "array"}
    cols, names = [], []
    for i, spec in enumerate(dimensions):
        if unwrap_list_filtered(spec) is not None:
            tmp = f"__lf_{i}"
            base, spec = rewrite_list_filtered(spec, base, array_dims, tmp)
            array_dims = array_dims | {tmp}
        col, name = dimension_column(spec)
        raw = spec if isinstance(spec, str) else spec.get("dimension")
        if raw in array_dims:
            base = base.withColumn(raw, F.explode_outer(F.col(raw)))
        cols.append(col.alias(name))
        names.append(name)
    return base, cols, names


class Aggregation:
    """The aggregation pipeline timeseries, topN, groupBy and
    movingAverage share — timeseries is groupBy with no dimensions, topN
    is groupBy on one dimension plus order and limit
    (query/query-module-overview.md:51-53), and movingAverage windows a
    zero-filled groupBy.

    Construction resolves the dataSource, applies virtualColumns,
    intervals and filter, builds the grouping keys (time bucket, then
    the dimensions) and compiles the aggregators; :meth:`frame` runs the
    aggregation. The planners keep only what differs: timeseries' one-row
    global aggregate and zero-fill spine, topN's ranking, groupBy's
    subtotalsSpec, having and limitSpec, movingAverage's warm-up,
    averager window and trim."""

    def __init__(self, engine, query: dict, dimensions: list = ()):
        self.context = query.get("context") or {}
        self.gran = parse_granularity(query.get("granularity", "all"))
        df = engine.resolve_datasource(query["dataSource"])
        self.base, dim_cols, self.dim_names = dimension_columns(
            filtered_frame(df, query, engine=engine), dimensions
        )
        if self.gran.kind == "all":
            # Druid keys the single 'all' bucket by the earliest interval start.
            start = min((parse_interval(iv)[0] for iv in query_intervals(query)), default=None)
            bucket = F.lit(start).cast("timestamp")
        else:
            bucket = self.gran.bucket(F.col(TIME_COLUMN))
        self.keys = [bucket.alias(BUCKET), *dim_cols]
        self.key_names = [BUCKET, *self.dim_names]

        # thetaSketch aggregators + set-op post-aggs plan as a separate
        # two-level aggregation joined back on the keys (functions/theta.py);
        # the remaining aggregators take the normal single-pass path. The
        # main frame owns the complete group set the theta estimates
        # left-join onto; keep one cheap count when theta is alone.
        self.theta = split_query(query)
        specs, self._placeholders = self.theta.other_aggs, []
        if self.theta.sketches and not specs:
            specs = [{"type": "count", "name": "__theta_rows"}]
            self._placeholders = ["__theta_rows"]
        self.aggs = compile_aggregators(specs, self.context, df=self.base)

    def frame(self, group=grouped_agg, fill=None) -> DataFrame:
        """Aggregate with ``group(base, keys, key_names, aggs)``, join the
        theta estimates, let ``fill(frame, fills)`` add absent groups
        (``fills`` maps each aggregator to its identity), then compute the
        post-aggregators."""
        out = group(self.base, self.keys, self.key_names, self.aggs)
        fills = self.aggs.fills
        if self.theta.sketches:
            out, theta_fills = attach_theta(
                out, self.base, self.keys, self.key_names, self.theta, context=self.context
            )
            fills = {**fills, **theta_fills}
        if fill is not None:
            out = fill(out, fills)
        out = out.drop(*self._placeholders)
        for name, col in compile_post_aggregators(self.theta.other_posts):
            out = out.withColumn(name, col)
        return out.drop(*self.theta.hoisted)


# Above this many spine buckets the zero-fill join drops its forced
# broadcast hint: a forced F.broadcast of a multi-million-row aggregate
# side risks Spark's broadcast cap, where an unhinted join lets AQE pick
# the strategy from observed sizes.
ZERO_FILL_BROADCAST_MAX = 100_000


def bucket_spine(
    spark, gran: Granularity, intervals: list[str], max_buckets: int | None = None
) -> tuple[DataFrame, int]:
    """One-column DataFrame of every bucket start inside the queried
    intervals — the zero-fill spine (query/query-timeseries.md:74-95) —
    plus its (driver-known) row count so callers can gate broadcast
    hints on actual spine size.

    Bucket starts are computed driver-side (bucket count is bounded by
    the cap in Granularity.buckets_in — Resource limit exceeded beyond
    it — independent of data volume) and parallelized.
    """
    if isinstance(intervals, str):
        intervals = [intervals]
    buckets: set = set()
    for iv in intervals:
        start, end = parse_interval(iv)
        buckets.update(gran.buckets_in(start, end, max_buckets=max_buckets))
    # Arrow-backed conversion yields a LocalTableScan (pure JVM at
    # execution); a list-of-tuples createDataFrame would instead plan a
    # Python-RDD scan that re-serializes through the driver on every run.
    # The explicit schema keeps the empty-spine case (degenerate interval,
    # start == end) a valid empty result instead of a schema-inference error.
    import pandas as pd

    pdf = pd.DataFrame({BUCKET: pd.Series(sorted(buckets), dtype="datetime64[us]")})
    return spark.createDataFrame(pdf, f"{BUCKET} timestamp"), len(buckets)


def zero_fill(
    agg_df: DataFrame,
    spine: DataFrame,
    fills: dict[str, object],
    dims: list[str] | None = None,
    spine_rows: int | None = None,
) -> DataFrame:
    """Left-join aggregates onto the bucket spine and substitute each
    aggregator's identity for missing buckets (empty buckets are
    zero-filled unless skipEmptyBuckets, query/query-timeseries.md:74-95).

    Both sides are bucket-cardinality; for the common small spine the
    aggregate side is broadcast (Spark cannot broadcast the preserved
    side of a left-outer join), so the spine join adds no shuffle, and
    the spine — the preserved side — is read as one partition. The join
    output is then a single partition, so the caller's ordering is a
    local sort: no range-partition exchange, with its sampling job and
    shuffle. Above ZERO_FILL_BROADCAST_MAX buckets the hint is dropped
    and the spine keeps its partitions — the aggregate side is
    spine-sized too, and forcing a multi-million-row broadcast would hit
    Spark's broadcast cap where AQE can pick a shuffle join.

    With ``dims`` (movingAverage's dimensions) every bucket is filled
    for every dimension combination the aggregate holds: the grid is the
    distinct dimension values crossed with the (broadcast, when small)
    spine, and the aggregate left-joins onto it on bucket and dims. The
    dims match null-safely: a null dimension value is a group of its own
    (a listFiltered row with no element left, a row without the
    dimension), and a plain equi-join would identity-fill it. Both sides
    are aggregated-cardinality, so the grid join shuffles rows that are
    already grouped, never the data.
    """
    small = spine_rows is None or spine_rows <= ZERO_FILL_BROADCAST_MAX
    if dims:
        combos = agg_df.select(*[F.col(d).alias(f"__grid_{d}") for d in dims]).distinct()
        grid = combos.crossJoin(F.broadcast(spine) if small else spine)
        on = [grid[BUCKET] == agg_df[BUCKET]]
        on += [grid[f"__grid_{d}"].eqNullSafe(agg_df[d]) for d in dims]
        joined = grid.join(agg_df, on, how="left")
        cols = [grid[BUCKET], *[grid[f"__grid_{d}"].alias(d) for d in dims]]
    else:
        if small:
            spine, agg_df = spine.coalesce(1), F.broadcast(agg_df)
        joined = spine.join(agg_df, on=BUCKET, how="left")
        cols = [F.col(BUCKET)]
    for name, fill in fills.items():
        if fill is None:
            cols.append(F.col(name))
        else:
            cols.append(F.coalesce(F.col(name), F.lit(fill)).alias(name))
    return joined.select(*cols)
