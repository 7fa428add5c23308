"""The engine under test: DruidHttpServer over DruidEngine, one process.

Started by run.py with a JSON config path. Talks back on stdout with
lines ``@@pb <json>`` (other stdout lines, e.g. from the JVM, are
ignored) and takes commands on stdin, one JSON object a line:

  {"cmd": "writer_start"}  append the remaining live batches, one by one
  {"cmd": "writer_stop"}   stop after the append in flight
  {"cmd": "corpus"}        run the composed LLM-corpus chain once
  {"cmd": "finish"}        write the trace (traced run), stop, exit

Set-up is timed here: the Spark session once, then the catalog and
engine ``setup_reps`` times over the same session (the last one serves).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

LIVE_TABLE = "events_live"


def emit(event: str, **fields) -> None:
    print("@@pb " + json.dumps({"event": event, **fields}), flush=True)


class Writer(threading.Thread):
    """Appends daily batches to the live table, starting one every
    ``every_s`` seconds (at once when the previous append ran longer), and
    re-registers the table after each append so queries see it (an append
    alone is not visible)."""

    def __init__(self, spark, engine, batches: list[str], table_path: str, every_s: float):
        super().__init__(daemon=True)
        self.spark, self.engine = spark, engine
        self.batches, self.table_path = batches, table_path
        self.every_s = every_s
        self.stop = threading.Event()
        self.error: str | None = None

    def run(self):
        from coolplaydruid_spark.sources import batch

        due = time.monotonic()
        for i, path in enumerate(self.batches[1:], start=1):
            if self.stop.wait(max(0.0, due - time.monotonic())):
                return
            t0 = time.monotonic()
            due = t0 + self.every_s
            try:
                batch.append_task(self.spark, {"format": "parquet", "path": path},
                                  self.table_path, time_column="ts",
                                  sort_by=["event_type"])
                batch.register_ingested(self.engine.catalog, LIVE_TABLE,
                                        self.table_path, "ts")
            except Exception as e:  # noqa: BLE001 - reported to the runner
                self.error = f"{type(e).__name__}: {e}"
                emit("writer_error", error=self.error)
                return
            emit("ack", batch=i, t_start=t0, t_end=time.monotonic())


def run_corpus(spark, corpus_dir: str, tracer, rid: str | None) -> dict:
    """One execution of the composed corpus chain (the
    ``pipeline_llm_corpus`` contract entry, stage frames kept). Traced,
    its spans and Spark jobs carry ``rid``, and it also counts candidate
    pairs and near duplicates removed."""
    import contextlib

    from coolplaydruid_spark import contract, evidence

    traced = tracer is not None
    if traced:
        import tracing

        tracer.request_id = rid
        spark.sparkContext.setJobGroup(tracing.GROUP_PREFIX + rid, "perfbench corpus")
    t0 = time.perf_counter()
    with evidence.capture() if traced else contextlib.nullcontext() as sink:
        stages = contract._spark_llm_corpus_stages(spark, corpus_dir)
        rows = [list(r) for r in stages["kept"].collect()]
    out = {"ms": (time.perf_counter() - t0) * 1000.0, "rows": rows}
    if traced:
        n = {k: stages[k].count() for k in ("d1", "d2", "d3", "d4")}
        out["candidate_pairs"] = evidence.candidate_stats(sink)["candidate_pairs"]
        out["near_dups_removed"] = n["d1"] - n["d2"] + n["d3"] - n["d4"]
        tracer.request_id = None
    return out


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    tracer = None
    if cfg["trace"]:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)

    from coolplaydruid_spark.catalog import FIXTURE_TIME_COLUMNS, Catalog
    from coolplaydruid_spark.engine import DruidEngine
    from coolplaydruid_spark.server.http import DruidHttpServer
    from coolplaydruid_spark.session import get_spark
    from coolplaydruid_spark.sources import batch

    t0 = time.perf_counter()
    extra = tracing.UI_CONF if tracer else None
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    session_s = time.perf_counter() - t0

    setup_s = []
    for _ in range(cfg["setup_reps"]):
        t0 = time.perf_counter()
        catalog = Catalog(spark)
        for name, path in cfg["tables"].items():
            catalog.register(name, path=path, time_column=FIXTURE_TIME_COLUMNS.get(name))
        engine = DruidEngine(spark, catalog)
        setup_s.append(time.perf_counter() - t0)

    writer = None
    live = cfg.get("live")
    if live:
        batch.index_task(spark, {"format": "parquet", "path": live["batches"][0]},
                         live["table_path"], time_column="ts", sort_by=["event_type"])
        batch.register_ingested(engine.catalog, LIVE_TABLE, live["table_path"], "ts")
        writer = Writer(spark, engine, live["batches"], live["table_path"], live["every_s"])

    oracle = {}
    if cfg.get("corpus_dir"):
        from coolplaydruid_spark.contract import ORACLES

        oracle["corpus_oracle"] = ORACLES["pipeline_llm_corpus"]
    server = DruidHttpServer(engine, port=0).start()
    emit("ready", port=server.port, session_s=session_s, setup_s=setup_s,
         master=spark.sparkContext.master, **oracle)

    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "writer_start":
            writer.start()
        elif cmd == "writer_stop":
            if writer.is_alive():
                writer.stop.set()
                writer.join()
            emit("writer_stopped", error=writer.error)
        elif cmd == "corpus":
            emit("corpus_done", **run_corpus(spark, cfg["corpus_dir"], tracer, msg.get("rid")))
        elif cmd == "finish":
            break

    server.shutdown()
    if tracer:
        tracer.dump(cfg["trace_path"], {"spark": tracing.spark_rest(spark)})
    spark.stop()
    emit("finished")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
