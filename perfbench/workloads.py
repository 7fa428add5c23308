"""Seeded request generators and their DuckDB oracles.

Each generated ``Query`` carries the HTTP request the load generator sends
and the DuckDB SQL that must return the same rows over the same Parquet.
There is one SQL template per request template; zero-filled time buckets
are produced with a ``generate_series`` spine, as the oracles in
``coolplaydruid_spark/contract.py`` do.

Rankings and limits order by integer aggregates with the dimensions as
tie-breakers, so both engines agree on row order exactly; double sums are
compared with a tolerance (see ``rows_match``).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
from dataclasses import dataclass

import numpy as np

from datagen import (
    EVENT_TYPES,
    EVENTS_DAYS,
    EVENTS_START,
    LIVE_START,
    ORDERS_DAYS,
    ORDERS_START,
    SEGMENTS,
)

NATIVE = "/druid/v2"
SQL = "/druid/v2/sql"
HOT_SPECS = 16
HOT_ZIPF_S = 1.1
HOT_REVALIDATE = 0.2  # share of olap_hot requests sent with If-None-Match


@dataclass(frozen=True)
class Query:
    kind: str              # timeseries | topN | groupBy | sql
    path: str              # NATIVE or SQL
    body: bytes            # request body, canonical JSON
    columns: tuple         # result columns, in oracle order
    oracle: str            # DuckDB SQL: (bucket timestamp, *columns) for native queries
    ordered: bool = True   # is row order part of the answer?


def _iso(t: dt.datetime) -> str:
    return t.isoformat() + "Z"


def _lit(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


def _interval(a: dt.datetime, b: dt.datetime) -> list[str]:
    return [f"{a:%Y-%m-%dT%H:%M:%S}/{b:%Y-%m-%dT%H:%M:%S}"]


def _native(kind, spec, columns, oracle, ordered=True) -> Query:
    body = json.dumps(spec, sort_keys=True, separators=(",", ":")).encode()
    return Query(kind, NATIVE, body, tuple(columns), oracle, ordered)


# ---- event filters ----------------------------------------------------------

def _event_filter(rng: random.Random):
    """(druid filter or None, SQL predicate)."""
    kind = rng.choice(["none", "selector", "or", "bound_value", "bound_user"])
    if kind == "selector":
        v = rng.choice(EVENT_TYPES)
        return ({"type": "selector", "dimension": "event_type", "value": v},
                f"event_type = '{v}'")
    if kind == "or":
        a, b = rng.sample(EVENT_TYPES, 2)
        return ({"type": "or", "fields": [
            {"type": "selector", "dimension": "event_type", "value": a},
            {"type": "selector", "dimension": "event_type", "value": b}]},
            f"(event_type = '{a}' OR event_type = '{b}')")
    if kind == "bound_value":
        lo = rng.randint(0, 30)
        hi = lo + rng.randint(5, 60)
        return ({"type": "bound", "dimension": "value", "lower": str(lo),
                 "upper": str(hi), "ordering": "numeric"},
                f"value >= {lo} AND value <= {hi}")
    if kind == "bound_user":
        lo = rng.randint(0, 800)
        hi = lo + rng.randint(50, 400)
        return ({"type": "bound", "dimension": "user_id", "lower": str(lo),
                 "upper": str(hi), "upperStrict": True, "ordering": "numeric"},
                f"user_id >= {lo} AND user_id < {hi}")
    return None, "TRUE"


def _with_filter(spec: dict, flt) -> dict:
    if flt is not None:
        spec["filter"] = flt
    return spec


# ---- templates ---------------------------------------------------------------

def timeseries_events(rng: random.Random) -> Query:
    gran = rng.choice(["hour", "day"])
    if gran == "hour":
        hours = rng.randint(24, 96)
        a = EVENTS_START + dt.timedelta(hours=rng.randint(0, EVENTS_DAYS * 24 - hours))
        b = a + dt.timedelta(hours=hours)
        step = "1 HOUR"
    else:
        days = rng.randint(3, 20)
        a = EVENTS_START + dt.timedelta(days=rng.randint(0, EVENTS_DAYS - days))
        b = a + dt.timedelta(days=days)
        step = "1 DAY"
    flt, pred = _event_filter(rng)
    aggs = [{"type": "count", "name": "rows"}]
    cols, sel, fill = ["rows"], ["count(*) AS rows"], ["COALESCE(rows, 0)"]
    if rng.random() < 0.7:
        aggs.append({"type": "doubleSum", "name": "v", "fieldName": "value"})
        cols.append("v")
        sel.append("sum(value) AS v")
        fill.append("COALESCE(v, 0.0)")
    if rng.random() < 0.4:
        aggs.append({"type": "longSum", "name": "uids", "fieldName": "user_id"})
        cols.append("uids")
        sel.append("CAST(sum(user_id) AS BIGINT) AS uids")
        fill.append("COALESCE(uids, 0)")
    spec = {"queryType": "timeseries", "dataSource": "events", "granularity": gran,
            "intervals": _interval(a, b), "aggregations": aggs}
    if "v" in cols and rng.random() < 0.5:
        spec["postAggregations"] = [{"type": "arithmetic", "name": "avg", "fn": "/",
                                     "fields": [{"type": "fieldAccess", "fieldName": "v"},
                                                {"type": "fieldAccess", "fieldName": "rows"}]}]
        cols.append("avg")
        fill.append("CASE WHEN COALESCE(rows, 0) = 0 THEN 0.0 ELSE v / rows END")
    oracle = f"""
        WITH spine AS (
          SELECT unnest(generate_series({_lit(a)}, {_lit(b)} - INTERVAL {step},
                                        INTERVAL {step})) AS t
        ), agg AS (
          SELECT CAST(date_trunc('{gran}', ts) AS TIMESTAMP) AS t, {', '.join(sel)}
          FROM events WHERE ts >= {_lit(a)} AND ts < {_lit(b)} AND {pred}
          GROUP BY 1
        )
        SELECT t, {', '.join(fill)} FROM spine LEFT JOIN agg USING (t) ORDER BY t"""
    return _native("timeseries", _with_filter(spec, flt), cols, oracle)


def topn_events(rng: random.Random) -> Query:
    dim = rng.choice(["event_type", "props", "user_id"])
    days = rng.randint(1, EVENTS_DAYS)
    a = EVENTS_START + dt.timedelta(days=rng.randint(0, EVENTS_DAYS - days))
    b = a + dt.timedelta(days=days)
    k = rng.choice([3, 5, 10])
    flt, pred = _event_filter(rng)
    spec = {"queryType": "topN", "dataSource": "events", "granularity": "all",
            "dimension": dim, "metric": "rows", "threshold": k,
            "intervals": _interval(a, b),
            "aggregations": [{"type": "count", "name": "rows"},
                             {"type": "doubleSum", "name": "v", "fieldName": "value"}]}
    oracle = f"""
        SELECT {_lit(a)} AS t, {dim}, count(*) AS rows, sum(value) AS v
        FROM events WHERE ts >= {_lit(a)} AND ts < {_lit(b)} AND {pred}
        GROUP BY {dim} ORDER BY rows DESC, {dim} LIMIT {k}"""
    return _native("topN", _with_filter(spec, flt), [dim, "rows", "v"], oracle)


def topn_lineitem(rng: random.Random) -> Query:
    days = rng.randint(30, 400)
    a = ORDERS_START + dt.timedelta(days=rng.randint(0, ORDERS_DAYS - days))
    b = a + dt.timedelta(days=days)
    k = rng.choice([5, 10])
    spec = {"queryType": "topN", "dataSource": "lineitem", "granularity": "all",
            "dimension": "l_suppkey", "metric": "items", "threshold": k,
            "intervals": _interval(a, b),
            "aggregations": [{"type": "count", "name": "items"},
                             {"type": "doubleSum", "name": "revenue",
                              "fieldName": "l_extendedprice"}]}
    oracle = f"""
        SELECT {_lit(a)} AS t, l_suppkey, count(*) AS items, sum(l_extendedprice) AS revenue
        FROM lineitem WHERE l_shipdate >= {_lit(a)} AND l_shipdate < {_lit(b)}
        GROUP BY l_suppkey ORDER BY items DESC, l_suppkey LIMIT {k}"""
    return _native("topN", spec, ["l_suppkey", "items", "revenue"], oracle)


def groupby_events(rng: random.Random) -> Query:
    dims = rng.choice([["event_type"], ["props"], ["event_type", "props"], ["user_id"]])
    days = rng.randint(2, EVENTS_DAYS)
    a = EVENTS_START + dt.timedelta(days=rng.randint(0, EVENTS_DAYS - days))
    b = a + dt.timedelta(days=days)
    having = rng.randint(0, 20)
    limit = rng.choice([5, 10, 20, 50])
    flt, pred = _event_filter(rng)
    spec = {"queryType": "groupBy", "dataSource": "events", "granularity": "all",
            "dimensions": dims, "intervals": _interval(a, b),
            "aggregations": [{"type": "count", "name": "rows"},
                             {"type": "doubleSum", "name": "v", "fieldName": "value"}],
            "having": {"type": "greaterThan", "aggregation": "rows", "value": having},
            "limitSpec": {"type": "default", "limit": limit, "columns": [
                {"dimension": "rows", "direction": "descending"},
                *({"dimension": d, "direction": "ascending"} for d in dims)]}}
    d = ", ".join(dims)
    oracle = f"""
        SELECT {_lit(a)} AS t, {d}, count(*) AS rows, sum(value) AS v
        FROM events WHERE ts >= {_lit(a)} AND ts < {_lit(b)} AND {pred}
        GROUP BY {d} HAVING count(*) > {having}
        ORDER BY rows DESC, {d} LIMIT {limit}"""
    return _native("groupBy", _with_filter(spec, flt), [*dims, "rows", "v"], oracle)


def groupby_orders(rng: random.Random) -> Query:
    dims = rng.choice([["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]])
    months = rng.randint(3, 18)
    m0 = rng.randint(0, 72 - months)
    a = dt.datetime(1995 + m0 // 12, 1 + m0 % 12, 1)
    m1 = m0 + months
    b = dt.datetime(1995 + m1 // 12, 1 + m1 % 12, 1)
    spec = {"queryType": "groupBy", "dataSource": "orders", "granularity": "month",
            "dimensions": dims, "intervals": _interval(a, b),
            "aggregations": [{"type": "count", "name": "orders"},
                             {"type": "doubleSum", "name": "revenue",
                              "fieldName": "o_totalprice"}]}
    d = ", ".join(dims)
    oracle = f"""
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS t, {d},
               count(*) AS orders, sum(o_totalprice) AS revenue
        FROM orders WHERE o_orderdate >= {_lit(a)} AND o_orderdate < {_lit(b)}
        GROUP BY ALL"""
    return _native("groupBy", spec, [*dims, "orders", "revenue"], oracle, ordered=False)


def _sql(statement: str, params: list, oracle: str, columns) -> Query:
    body = json.dumps({"query": statement, "parameters": params},
                      sort_keys=True, separators=(",", ":")).encode()
    return Query("sql", SQL, body, tuple(columns), oracle)


SQL_NATION_REVENUE = """
SELECT n.n_name AS nation, COUNT(*) AS orders, SUM(o.o_totalprice) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= ? AND o.o_orderdate < ? AND c.c_mktsegment = ?
GROUP BY n.n_name
ORDER BY orders DESC, nation
LIMIT 10"""

SQL_PRIORITY_FLAGS = """
SELECT o.o_orderpriority AS priority, l.l_returnflag AS flag, COUNT(*) AS items,
       SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= ? AND l.l_shipdate < ? AND l.l_quantity < ?
GROUP BY o.o_orderpriority, l.l_returnflag
ORDER BY priority, flag"""


def _bind(statement: str, literals: list[str]) -> str:
    parts = statement.split("?")
    out = parts[0]
    for lit, rest in zip(literals, parts[1:]):
        out += lit + rest
    return out


def sql_join(rng: random.Random) -> Query:
    days = rng.randint(60, 900)
    a = (ORDERS_START + dt.timedelta(days=rng.randint(0, ORDERS_DAYS - days))).date()
    b = a + dt.timedelta(days=days)
    date = [{"type": "DATE", "value": a.isoformat()}, {"type": "DATE", "value": b.isoformat()}]
    dlit = [f"DATE '{a}'", f"DATE '{b}'"]
    if rng.random() < 0.5:
        seg = rng.choice(SEGMENTS)
        return _sql(SQL_NATION_REVENUE, [*date, {"type": "VARCHAR", "value": seg}],
                    _bind(SQL_NATION_REVENUE, [*dlit, f"'{seg}'"]),
                    ["nation", "orders", "revenue"])
    qty = rng.randint(5, 50)
    return _sql(SQL_PRIORITY_FLAGS, [*date, {"type": "DOUBLE", "value": qty}],
                _bind(SQL_PRIORITY_FLAGS, [*dlit, str(qty)]),
                ["priority", "flag", "items", "revenue"])


# Template rotations, in twentieths: timeseries 35%, topN 25%, groupBy
# 25%, SQL joins 15%. The rotation is fixed and only the parameters are
# seeded, so every seed sends the same mix in the same order of kinds.
COLD_MIX = [(timeseries_events, 7), (topn_events, 3), (topn_lineitem, 2),
            (groupby_events, 3), (groupby_orders, 2), (sql_join, 3)]
HOT_MIX = [(t, w) for t, w in COLD_MIX if t is not sql_join]


def rotation(mix) -> list:
    """Interleave ``mix`` (template, slots) into one evenly spread cycle."""
    slots = [(k / w, i, t) for i, (t, w) in enumerate(mix) for k in range(w)]
    return [t for _, _, t in sorted(slots, key=lambda s: (s[0], s[1]))]


def distinct_queries(seed: int, n: int, mix=COLD_MIX, stream: int = 0) -> list[Query]:
    """``n`` pairwise-distinct queries, kinds cycling through ``mix``."""
    rng = random.Random(f"{seed}/{stream}")
    cycle = rotation(mix)
    seen, out = set(), []
    while len(out) < n:
        q = cycle[len(out) % len(cycle)](rng)
        if (q.path, q.body) not in seen:
            seen.add((q.path, q.body))
            out.append(q)
    return out


def zipf_draws(seed: int, n_specs: int, n_draws: int, s: float = HOT_ZIPF_S) -> list[int]:
    """Spec indices drawn Zipf(s) over a seeded rank permutation."""
    rng = np.random.default_rng([seed, 3])
    weights = 1.0 / np.arange(1, n_specs + 1) ** s
    ranks = rng.choice(n_specs, n_draws, p=weights / weights.sum())
    return rng.permutation(n_specs)[ranks].tolist()


# ---- cold_ingest live panels ------------------------------------------------------

NO_CACHE = {"useCache": False, "populateCache": False}


def live_queries(n_days: int) -> list[Query]:
    """The reader panels over the growing ``events_live`` table: per-day
    counts and sums, a topN, and a filtered per-day count. Their answers
    are checked against the acknowledged batches (``LiveExpectation``)."""
    a, b = LIVE_START, LIVE_START + dt.timedelta(days=n_days)
    iv = _interval(a, b)
    rows = {"type": "count", "name": "rows"}
    vsum = {"type": "doubleSum", "name": "v", "fieldName": "value"}
    specs = [
        ({"queryType": "timeseries", "dataSource": "events_live", "granularity": "day",
          "intervals": iv, "aggregations": [rows, vsum], "context": NO_CACHE},
         ["rows", "v"]),
        ({"queryType": "topN", "dataSource": "events_live", "granularity": "all",
          "dimension": "event_type", "metric": "rows", "threshold": 5,
          "intervals": iv, "aggregations": [rows, vsum], "context": NO_CACHE},
         ["event_type", "rows", "v"]),
        ({"queryType": "timeseries", "dataSource": "events_live", "granularity": "day",
          "intervals": iv, "aggregations": [rows], "context": NO_CACHE,
          "filter": {"type": "selector", "dimension": "event_type", "value": "purchase"}},
         ["rows"]),
    ]
    return [_native(s["queryType"], s, cols, "") for s, cols in specs]


class LiveExpectation:
    """Expected reader answers after the first ``k`` daily batches."""

    def __init__(self, batches: list[dict], n_days: int):
        self.n_days = n_days
        self.days = [_iso(LIVE_START + dt.timedelta(days=i)) for i in range(n_days)]
        self.rows = [len(b["event_type"]) for b in batches]
        self.vsum = [float(np.sum(b["value"])) for b in batches]
        self.purchase = [int(np.sum(b["event_type"] == "purchase")) for b in batches]
        self.by_type = [
            {t: (int(np.sum(m)), float(np.sum(b["value"][m])))
             for t in EVENT_TYPES for m in [b["event_type"] == t]}
            for b in batches
        ]

    def rows_for(self, query_idx: int, k: int) -> list[tuple]:
        if query_idx == 0:
            return [(self.days[i], self.rows[i] if i < k else 0, self.vsum[i] if i < k else 0.0)
                    for i in range(self.n_days)]
        if query_idx == 1:
            tot = {t: [0, 0.0] for t in EVENT_TYPES}
            for per in self.by_type[:k]:
                for t, (c, s) in per.items():
                    tot[t][0] += c
                    tot[t][1] += s
            ranked = sorted(((t, c, s) for t, (c, s) in tot.items() if c),
                            key=lambda r: (-r[1], r[0]))
            return [(self.days[0], *r) for r in ranked[:5]]
        return [(self.days[i], self.purchase[i] if i < k else 0) for i in range(self.n_days)]


# ---- response normalisation and comparison ------------------------------------

def rows_from_response(q: Query, payload) -> list[tuple]:
    """Flatten a Druid-shaped JSON response into (ts?, *columns) tuples."""
    cols = q.columns
    if q.kind == "sql":
        return [tuple(r[c] for c in cols) for r in payload]
    if q.kind == "timeseries":
        return [(e["timestamp"], *(e["result"][c] for c in cols)) for e in payload]
    if q.kind == "topN":
        return [(e["timestamp"], *(item[c] for c in cols))
                for e in payload for item in e["result"]]
    return [(e["timestamp"], *(e["event"][c] for c in cols)) for e in payload]


def rows_from_duckdb(q: Query, rows) -> list[tuple]:
    return [tuple(_iso(v) if isinstance(v, dt.datetime) else v for v in r) for r in rows]


def values_match(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool = True) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple(str(v) for v in r if not isinstance(v, float))  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(values_match(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))
