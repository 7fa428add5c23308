"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cold_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The runner generates its inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts the
engine (``server.py``: DruidHttpServer over DruidEngine) as a child
process, drives it over HTTP from at most ``nproc`` client threads in a
closed loop, checks every answer outside the timed window, and prints a
report line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a run with
the span wrappers in ``tracing.py`` installed. See NOTES.md.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import datagen
import stats
from tracing import REQUEST_HEADER
from workloads import (
    HOT_MIX,
    HOT_REVALIDATE,
    HOT_SPECS,
    LiveExpectation,
    Query,
    distinct_queries,
    live_queries,
    rows_from_duckdb,
    rows_from_response,
    rows_match,
    zipf_draws,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cold_ingest", "olap_hot", "corpus_build")
DRIVER_MEM = "3g"        # fits a 15 GiB host next to the load generator
SETUP_REPS = 3
HTTP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170.0   # the whole run is killed past this
COLD_CLIENTS, WARMUP_CLIENTS, WARMUP_S = 2, 4, 6.0
FIRST_TOUCH_LIMIT_S = 100.0
HOT_CLIENTS = 4
# One append starts every LIVE_APPEND_EVERY_S; appends take 0.5-1.2 s on 4
# cores, so the writer's share of the machine is the same from run to run.
LIVE_BATCHES, LIVE_APPEND_EVERY_S, LIVE_EVERY = 24, 2.5, 6


@dataclass
class Sample:
    idx: int            # index into the workload's query list
    t_send: float       # time.monotonic(), shared with the server process
    t_recv: float
    status: int
    nbytes: int
    body: bytes | None  # kept when the answer is checked after the run
    etag: str | None
    rid: str | None
    ok: bool | None = None  # decided inline (olap_hot repeats) or by check()
    nrows: int = 0

    @property
    def ms(self) -> float:
        return (self.t_recv - self.t_send) * 1000.0


# ---- the engine process ---------------------------------------------------------

class Server:
    """The child process and its ``@@pb`` event stream."""

    def __init__(self, work: str, config: dict):
        cfg_path = os.path.join(work, "server.json")
        with open(cfg_path, "w") as f:
            json.dump(config, f)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(nproc()),
                   SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   PYTHONPATH=os.pathsep.join(
                       [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
                   PYSPARK_PYTHON=sys.executable,
                   TMPDIR=tmp,
                   # No hsperfdata file: the JVM would write it to /tmp.
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                   TZ="UTC")
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), cfg_path],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True)
        self.events: list[dict] = []
        self.cond = threading.Condition()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith(b"@@pb "):
                with self.cond:
                    self.events.append(json.loads(line[5:]))
                    self.cond.notify_all()
        with self.cond:
            self.events.append({"event": "exit"})
            self.cond.notify_all()

    def wait_for(self, name: str, timeout: float, nth: int = 1) -> dict:
        """The ``nth`` event called ``name``."""
        deadline = time.monotonic() + timeout
        with self.cond:
            while True:
                seen = 0
                for e in self.events:
                    seen += e["event"] == name
                    if seen == nth:
                        return e
                    if e["event"] in ("exit", "writer_error"):
                        raise RuntimeError(f"server: {e}")
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"server: no {name!r} in {timeout:.0f}s")
                self.cond.wait(left)

    def acks(self) -> list[dict]:
        with self.cond:
            return [e for e in self.events if e["event"] == "ack"]

    def send(self, cmd: str, **fields) -> None:
        self.proc.stdin.write((json.dumps({"cmd": cmd, **fields}) + "\n").encode())
        self.proc.stdin.flush()

    def peak_rss_mb(self) -> float:
        """VmHWM of the server's Python process plus its JVM."""
        pids = [self.proc.pid] + [p for p in descendants(self.proc.pid)
                                  if proc_comm(p) == "java"]
        return sum(vm_hwm_kb(p) for p in pids) / 1024.0

    def stop(self, timeout: float = 60.0) -> None:
        """Stop the child and every process under it, and wait. PySpark's
        Python worker daemon leaves the child's process group, so the
        processes under the child are listed before it exits."""
        family = descendants(self.proc.pid)
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        kill_group(self.proc.pid)
        self.proc.wait()
        for pid in family:
            kill_group(pid)
        self.log.close()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def proc_comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def group_alive(pgid: int) -> bool:
    """Is any live (non-zombie) process in process group ``pgid``?"""
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def kill_group(pgid: int, wait_s: float = 20.0) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + wait_s
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


# ---- load generation ---------------------------------------------------------------

def closed_loop(port: int, clients: int, next_job, until: float, keep, trace: bool,
                tag: str) -> list[Sample]:
    """``clients`` threads, each sending its next request only after the
    previous answer arrived, until ``until`` or until ``next_job`` returns
    None. ``next_job(client) -> (idx, query, headers)``;
    ``keep(idx, status, body, etag) -> (ok, body to keep)``."""
    per_client: list[list[Sample]] = [[] for _ in range(clients)]

    def worker(c: int):
        conn, n = None, 0
        while time.monotonic() < until:
            job = next_job(c)
            if job is None:
                break
            idx, q, headers = job
            rid = None
            if trace:
                rid = f"{tag}{c}-{n}"
                headers = {**headers, REQUEST_HEADER: rid}
            n += 1
            if conn is None:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
            t0 = time.monotonic()
            try:
                conn.request("POST", q.path, body=q.body,
                             headers={"Content-Type": "application/json", **headers})
                resp = conn.getresponse()
                body, status, etag = resp.read(), resp.status, resp.getheader("ETag")
            except (OSError, http.client.HTTPException) as e:
                body, status, etag = repr(e).encode(), 0, None
                conn.close()
                conn = None
            t1 = time.monotonic()
            ok, kept = keep(idx, status, body, etag)
            per_client[c].append(Sample(idx, t0, t1, status, len(body), kept, etag, rid, ok))
        if conn is not None:
            conn.close()

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [s for per in per_client for s in per]


def shared_iter(items):
    """next_job over one list shared by all clients."""
    it, lock = iter(items), threading.Lock()

    def next_job(_client):
        with lock:
            return next(it, None)
    return next_job


def keep_all(_idx, status, body, _etag):
    return None, body


# ---- answer checks ----------------------------------------------------------------------

def duck(tables: dict):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_oracle(con, q, body: bytes) -> tuple[bool, int]:
    """(answer equals the DuckDB oracle's, result rows)."""
    try:
        got = rows_from_response(q, json.loads(body))
    except (ValueError, KeyError, TypeError):
        return False, 0
    want = rows_from_duckdb(q, con.execute(q.oracle).fetchall())
    return rows_match(got, want, q.ordered), len(got)


# ---- workloads ---------------------------------------------------------------------------------

def run_olap_hot(ctx) -> dict:
    """4 dashboard clients, Zipf over a spec set that fits the cache. The
    first touch of every spec is the warm-up; the measured window then
    only repeats them."""
    queries = distinct_queries(ctx.seed, HOT_SPECS, HOT_MIX, stream=2)
    first = ctx.closed_loop(HOT_CLIENTS, shared_iter([(i, q, {}) for i, q in enumerate(queries)]),
                            time.monotonic() + FIRST_TOUCH_LIMIT_S, keep_all, "w")
    ref = {s.idx: s for s in first}
    draws = zipf_draws(ctx.seed, HOT_SPECS, 2_000_000)
    flags = random.Random(f"{ctx.seed}/revalidate")
    jobs = ((i, queries[i], {"If-None-Match": ref[i].etag}
             if flags.random() < HOT_REVALIDATE and ref[i].etag else {})
            for i in draws if i in ref)

    def same_as_first(idx, status, body, etag):
        r = ref[idx]
        if status == 304:
            return etag == r.etag, None
        return status == 200 and body == r.body and etag == r.etag, None

    t0 = time.monotonic()
    samples = ctx.closed_loop(HOT_CLIENTS, shared_iter(jobs), t0 + ctx.seconds,
                              same_as_first, "m")
    ctx.stop_server()
    con = duck(ctx.tables)
    first_ok = {}
    for s in first:
        first_ok[s.idx] = s.status == 200 and check_oracle(con, queries[s.idx], s.body)[0]
    for s in samples:
        s.ok = s.ok and first_ok[s.idx]
    return {"t0": t0, "samples": samples, "queries": queries,
            "labels": [q.kind for q in queries],
            "first_failed": sum(not ok for ok in first_ok.values()),
            "expect_cache_misses": len(queries)}


def run_cold_ingest(ctx) -> dict:
    """2 clients send distinct ad-hoc specs, every LIVE_EVERY-th request a
    panel on the live table, while a writer thread in the server appends
    daily batches. The result cache never hits: the ad-hoc specs are
    pairwise distinct and the panels ask for no caching."""
    import pyarrow.parquet as pq

    live = live_queries(LIVE_BATCHES)
    cold = distinct_queries(ctx.seed, 2000, stream=0)
    bodies = {q.body for q in cold}
    warm = [q for q in distinct_queries(ctx.seed, 400, stream=1) if q.body not in bodies]
    queries = live + warm + cold
    n_live, n_warm = len(live), len(warm)

    def with_panels(first: int, last: int) -> list:
        """Specs first..last-1, a live panel (cycling) after every
        LIVE_EVERY - 1 of them."""
        order = []
        for k, i in enumerate(range(first, last), start=1):
            order.append(i)
            if k % (LIVE_EVERY - 1) == 0:
                order.append((k // (LIVE_EVERY - 1) - 1) % n_live)
        return [(i, queries[i], {}) for i in order]

    ctx.server.send("writer_start")
    # Warm the JVM with other distinct specs of the same mix, from more
    # clients than are measured (the JIT warms per executed query).
    ctx.closed_loop(WARMUP_CLIENTS, shared_iter(with_panels(n_live, n_live + n_warm)),
                    time.monotonic() + WARMUP_S, keep_all, "w")
    t0 = time.monotonic()
    samples = ctx.closed_loop(COLD_CLIENTS, shared_iter(with_panels(n_live + n_warm, len(queries))),
                              t0 + ctx.seconds, keep_all, "m")
    t1 = time.monotonic()
    ctx.server.send("writer_stop")
    ctx.server.wait_for("writer_stopped", 60)
    acks = ctx.server.acks()
    table_bytes, files_per_dt = dir_stats(ctx.live_path)
    ctx.stop_server()

    cols = ["event_type", "value"]
    expect = LiveExpectation(
        [{c: pq.read_table(p, columns=cols)[c].to_numpy() for c in cols}
         for p in ctx.batches], len(ctx.batches))
    con = duck(ctx.tables)
    for s in samples:
        if s.status != 200:
            s.ok = False
        elif s.idx >= n_live:
            s.ok, s.nrows = check_oracle(con, queries[s.idx], s.body)
        else:
            # A panel must show some prefix of the batches between those
            # acknowledged when it was sent and those whose append had
            # started when it returned (batch 0 is the base).
            lo = 1 + sum(a["t_end"] <= s.t_send for a in acks)
            hi = 1 + sum(a["t_start"] <= s.t_recv for a in acks)
            got = rows_from_response(queries[s.idx], json.loads(s.body))
            s.nrows = len(got)
            s.ok = any(rows_match(got, expect.rows_for(s.idx, k)) for k in range(lo, hi + 1))
        s.body = None
    adhoc = [s.idx for s in samples if s.idx >= n_live]
    window = [a for a in acks if t0 <= a["t_start"] and a["t_end"] <= t1]
    in_bytes = sum(os.path.getsize(p) for p in ctx.batches[:1 + len(acks)])
    return {"t0": t0, "samples": samples, "queries": queries,
            "labels": ["live"] * n_live + [q.kind for q in warm + cold],
            "distinct": len(set(adhoc)) == len(adhoc), "expect_cache_hits": 0,
            "appends": len(window),
            "append_ms": [(a["t_end"] - a["t_start"]) * 1000.0 for a in window],
            "ingest_rows_per_s": sum(expect.rows[a["batch"]] for a in window) / (t1 - t0),
            "stored_bytes_ratio": table_bytes / in_bytes,
            "files_per_append": stats.median(files_per_dt),
            "table_files": sum(files_per_dt)}


def run_corpus_build(ctx) -> dict:
    """1 client running the composed LLM-corpus chain back to back; the
    first execution warms the JVM and is not measured."""
    n = 0

    def execute() -> tuple[Sample, dict]:
        nonlocal n
        n += 1
        rid = f"corpus-{n}"
        t = time.monotonic()
        ctx.server.send("corpus", rid=rid)
        done = ctx.server.wait_for("corpus_done", 120, nth=n)
        nbytes = len(json.dumps(done["rows"]))
        return Sample(0, t, time.monotonic(), 200, nbytes, None, None, rid), done

    execute()
    t0 = time.monotonic()
    samples, runs = [], []
    while time.monotonic() < t0 + ctx.seconds:
        s, done = execute()
        samples.append(s)
        runs.append(done)
    ctx.stop_server()
    query = Query("corpus", "", b"", ("doc_id", "bucket", "n_tokens"),
                  ctx.ready["corpus_oracle"], ordered=False)
    want = [tuple(r) for r in duck(ctx.tables).execute(query.oracle).fetchall()]
    for s, done in zip(samples, runs):
        s.ok = rows_match([tuple(r) for r in done["rows"]], want, ordered=False)
        s.nrows = len(done["rows"])
    out = {"t0": t0, "samples": samples, "queries": [query], "labels": ["corpus"],
           "kept_docs": len(want),
           "corpus_docs_per_s": datagen.CORPUS_DOCS / (stats.median(s.ms for s in samples) / 1e3)}
    if ctx.trace:
        out["candidate_pairs"] = stats.median(d["candidate_pairs"] for d in runs)
        out["pair_yield"] = stats.ratio(runs[-1]["near_dups_removed"], runs[-1]["candidate_pairs"])
    return out


def dir_stats(path: str) -> tuple[int, list[int]]:
    """(bytes of every file under path, parquet files per partition dir)."""
    total, per_dir = 0, []
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            per_dir.append(n)
    return total, per_dir


# ---- the run ---------------------------------------------------------------------------------

class Context:
    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.started = time.monotonic()
        self.server: Server | None = None
        self.ready: dict = {}
        self.peak_rss_mb = 0.0
        self.trace_path = os.path.join(work, "trace.json")
        self.phases: dict[str, float] = {}
        self.tables: dict[str, str] = {}
        self.batches: list[str] = []
        self.live_path = ""

    def closed_loop(self, clients, next_job, until, keep, tag):
        return closed_loop(self.ready["port"], clients, next_job, until, keep, self.trace, tag)

    def start_server(self, extra: dict) -> None:
        config = {"trace": self.trace, "trace_path": self.trace_path,
                  "setup_reps": SETUP_REPS, "tables": self.tables, **extra}
        self.server = Server(self.work, config)
        self.ready = self.server.wait_for("ready", 120)
        self.mark("ready")

    def stop_server(self) -> None:
        """Read the peak RSS, then let the server write its trace and exit."""
        if self.server is None:
            return
        self.peak_rss_mb = self.server.peak_rss_mb()
        self.mark("measured")
        self.server.send("finish")
        self.server.wait_for("finished", 90)
        self.mark("finished")
        self.server.stop()
        self.server = None
        self.mark("stopped")

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.monotonic() - self.started, 3)


def host_facts() -> dict:
    return {"nproc": nproc(), "driver_mem": DRIVER_MEM, "loadavg_1m_start": os.getloadavg()[0]}


def end_to_end(ctx, res: dict) -> tuple[dict, dict]:
    measured = res["samples"]
    good = [s for s in measured if s.ok]
    ms = [s.ms for s in good] or [0.0]
    span = max(s.t_recv for s in measured) - res["t0"] if measured else 1.0
    setup = ctx.ready["session_s"] + stats.median(ctx.ready["setup_s"])
    metrics = {
        "setup_s": (setup, "s"),
        "qps": (len(good) / span, "1/s"),
        "query_p50_ms": (stats.percentile(ms, 50), "ms"),
        "query_p90_ms": (stats.percentile(ms, 90), "ms"),
    }
    by_kind = {}
    for kind in ("timeseries", "topN", "groupBy", "sql", "live"):
        xs = [s.ms for s in good if res["labels"][s.idx] == kind]
        by_kind[kind] = {"n": len(xs), "p50_ms": stats.median(xs)}
    info = {"samples": len(measured), "supported_percentile": stats.supported_percentile(len(ms)),
            "percentiles_ms": {p: stats.percentile(ms, p) for p in (50, 75, 90, 95, 99)},
            "session_s": ctx.ready["session_s"], "engine_setup_s": ctx.ready["setup_s"],
            "peak_rss_mb": ctx.peak_rss_mb, "by_kind": by_kind}
    return metrics, info


def layer_metrics(trace: dict, res: dict, e2e: dict, info: dict) -> dict:
    """Per-layer numbers of the measured window from the span dump; 0 for
    layers a workload does not touch. The operators layer is reported by
    corpus_build alone."""
    t0_ns = int(res["t0"] * 1e9)
    spans = [dict(zip(("sid", "parent", "rid", "name", "start", "end"), s))
             for s in trace["spans"]]
    in_window = [s for s in spans if s["start"] >= t0_ns]
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def dur_ms(s):
        return (s["end"] - s["start"]) / 1e6

    def self_ms(s):
        return dur_ms(s) - sum(dur_ms(c) for c in children.get(s["sid"], []))

    def med(name, fn=dur_ms):
        return stats.median(fn(s) for s in in_window if s["name"] == name)

    samples = {s.rid: s for s in res["samples"] if s.rid}
    handles = {s["rid"]: s for s in in_window if s["name"] == "http.handle"}
    http_self = [samples[r].ms - sum(dur_ms(c) for c in children.get(h["sid"], []))
                 for r, h in handles.items() if r in samples]
    native = sum(1 for s in samples.values() if res["queries"][s.idx].path == "/druid/v2")
    etags = sum(1 for s in in_window if s["name"] == "engine.etag" and s["rid"] in samples)

    # Spark jobs and stages of measured requests, through their job groups.
    stages = {st["stageId"]: st for st in trace["spark"]["stages"]}
    per_req: dict = {}
    for job in trace["spark"]["jobs"]:
        rid = trace["groups"].get(job.get("jobGroup"))
        if rid in samples:
            acc = per_req.setdefault(rid, {"jobs": 0, "tasks": 0, "run": 0, "gc": 0,
                                           "input": 0, "shuffle": 0})
            acc["jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st and st["status"] == "COMPLETE":
                    acc["tasks"] += st["numTasks"]
                    acc["run"] += st["executorRunTime"]
                    acc["gc"] += st["jvmGcTime"]
                    acc["input"] += st["inputRecords"]
                    acc["shuffle"] += st["shuffleWriteBytes"]
    n_spark = len(per_req)

    def per_query(key):
        return stats.ratio(sum(a[key] for a in per_req.values()), n_spark)

    result_rows = sum(samples[r].nrows for r in per_req)
    hits = trace["counters"].get("cache_hits", 0)
    misses = trace["counters"].get("cache_misses", 0)
    measured = res["samples"]
    by_kind = info["by_kind"]
    out = {
        "http.self_ms": (stats.median(http_self), "ms"),
        "http.response_bytes": (stats.ratio(sum(s.nbytes for s in measured), len(measured)), "B"),
        "http.not_modified_frac": (stats.ratio(sum(s.status == 304 for s in measured),
                                               len(measured)), "ratio"),
        "engine.execute_ms": (med("engine.execute"), "ms"),
        "engine.etag_ms": (med("engine.etag"), "ms"),
        "engine.etag_calls_per_query": (stats.ratio(etags, native), "count"),
        "engine.cache_hit_ratio": (stats.ratio(hits, hits + misses), "ratio"),
        "engine.cache_misses": (misses, "count"),
        "engine.serialize_ms": (med("engine.serialize"), "ms"),
        "plans.plan_ms": (med("plans.plan", self_ms), "ms"),
        "sql.plan_ms": (med("sql.plan"), "ms"),
        "spark.collect_ms": (med("spark.collect"), "ms"),
        "spark.jobs_per_query": (per_query("jobs"), "count"),
        "spark.tasks_per_query": (per_query("tasks"), "count"),
        "spark.executor_run_ms": (per_query("run"), "ms"),
        "spark.gc_ms": (per_query("gc"), "ms"),
        "spark.input_rows_per_result_row": (stats.ratio(
            sum(a["input"] for a in per_req.values()), result_rows), "ratio"),
        "spark.shuffle_write_bytes": (per_query("shuffle"), "B"),
        "catalog.table_loads": (sum(s["name"] == "catalog.table_load" for s in in_window),
                                "count"),
        "catalog.table_load_ms": (med("catalog.table_load"), "ms"),
        "catalog.register_ms": (med("catalog.register"), "ms"),
        "batch.append_ms": (med("batch.append"), "ms"),
        "batch.files_per_append": (res.get("files_per_append", 0), "count"),
        "batch.table_files": (res.get("table_files", 0), "count"),
        "ingest_rows_per_s": (res.get("ingest_rows_per_s", 0.0), "1/s"),
        "append_p50_ms": (stats.median(res.get("append_ms", [])), "ms"),
        "stored_bytes_ratio": (res.get("stored_bytes_ratio", 0.0), "ratio"),
        "timeseries_p50_ms": (by_kind["timeseries"]["p50_ms"], "ms"),
        "topn_p50_ms": (by_kind["topN"]["p50_ms"], "ms"),
        "groupby_p50_ms": (by_kind["groupBy"]["p50_ms"], "ms"),
        "sql_p50_ms": (by_kind["sql"]["p50_ms"], "ms"),
        "live_p50_ms": (by_kind["live"]["p50_ms"], "ms"),
        "peak_rss_mb": (info["peak_rss_mb"], "MB"),
        "traced.qps": e2e["qps"],
        "traced.query_p50_ms": e2e["query_p50_ms"],
    }
    if "corpus_docs_per_s" in res:  # only corpus_build, which is not listed
        out.update({
            "operators.build_ms": (med("operators.build"), "ms"),
            "operators.candidate_pairs": (res["candidate_pairs"], "count"),
            "operators.pair_yield": (res["pair_yield"], "ratio"),
            "corpus_docs_per_s": (res["corpus_docs_per_s"], "1/s"),
        })
    return out


def structural_failures(res: dict, trace: dict | None) -> list[str]:
    """Checks on the run as a whole, beyond each answer."""
    out = []
    if res.get("distinct") is False:
        out.append("an ad-hoc spec was sent twice")
    if res.get("first_failed"):
        out.append(f"{res['first_failed']} first answers disagree with DuckDB")
    if trace is not None:
        counters = trace["counters"]
        if "expect_cache_hits" in res and counters.get("cache_hits", 0) != res["expect_cache_hits"]:
            out.append(f"cache hits {counters.get('cache_hits', 0)} on distinct specs")
        if ("expect_cache_misses" in res
                and counters.get("cache_misses", 0) != res["expect_cache_misses"]):
            out.append(f"cache misses {counters.get('cache_misses', 0)} != "
                       f"{res['expect_cache_misses']} distinct specs")
    if not res["samples"]:
        out.append("no request completed in the measured window")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "coolplaydruid_spark")):
        print(f"run.py: no coolplaydruid_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args, work)
    facts = host_facts()
    watchdog = threading.Timer(RUN_DEADLINE_S, abort, args=(ctx,))
    watchdog.daemon = True
    watchdog.start()
    try:
        t = time.perf_counter()
        extra = {}
        if args.workload == "corpus_build":
            ctx.tables = datagen.make_corpus(args.seed, os.path.join(work, "data"))
            extra["corpus_dir"] = os.path.join(work, "data")
        else:
            ctx.tables = datagen.make_tables(args.seed, os.path.join(work, "data"))
        if args.workload == "cold_ingest":
            ctx.batches = datagen.make_batches(args.seed, os.path.join(work, "batches"),
                                               LIVE_BATCHES)
            ctx.live_path = os.path.join(work, "live", "events_live")
            extra["live"] = {"batches": ctx.batches, "table_path": ctx.live_path,
                             "every_s": LIVE_APPEND_EVERY_S}
        datagen_s = time.perf_counter() - t
        ctx.start_server(extra)
        res = globals()[f"run_{args.workload}"](ctx)
        e2e, info = end_to_end(ctx, res)
        trace = None
        if ctx.trace:
            with open(ctx.trace_path) as f:
                trace = json.load(f)
        metrics = layer_metrics(trace, res, e2e, info) if trace else e2e
        failures = structural_failures(res, trace)
        ctx.mark("checked")
    except BaseException:
        log = os.path.join(work, "server.log")
        if os.path.exists(log):
            with open(log, "rb") as f:
                sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
        raise
    finally:
        watchdog.cancel()
        if ctx.server is not None:  # the run failed while the server was up
            kill_group(ctx.server.proc.pid)
            ctx.server.proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    samples = res["samples"]
    failed = sum(not s.ok for s in samples)
    attempted = len(samples)
    facts.update(master=ctx.ready.get("master"), loadavg_1m_end=os.getloadavg()[0])
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": facts, "datagen_s": datagen_s, "phases": ctx.phases,
              "error_rate": stats.ratio(failed, attempted), "failures": failures,
              **info, **{k: v for k, v in res.items()
                         if k not in ("samples", "queries", "labels", "append_ms", "t0")}}
    print(json.dumps({"report": report}))
    correct = failed == 0 and not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed + len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def abort(ctx) -> None:
    print(f"run.py: no result within {RUN_DEADLINE_S:.0f}s; stopping", file=sys.stderr)
    if ctx.server is not None:
        kill_group(ctx.server.proc.pid)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
