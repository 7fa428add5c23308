"""Batch ingest (I1-I8) + streaming ingest (I3): partitioned layout,
rollup invariance, partition pruning, compaction, segment ops, and the
streaming→batch parity contract."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coolplaydruid_spark.sources import batch
from coolplaydruid_spark.streaming import realtime
from tests.conftest import SF_DIR


def test_index_task_partitions_and_prunes(spark, tmp_path):
    dest = str(tmp_path / "events_tbl")
    status = batch.index_task(
        spark,
        {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        sort_by=["event_type"],
    )
    assert status.status == "SUCCESS"
    df = spark.read.parquet(dest)
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert df.count() == src.count()
    # 30 daily partitions on disk
    assert df.select(batch.DT_COLUMN).distinct().count() == 30

    # interval predicate becomes partition pruning: only matching
    # partitions are read
    pruned = df.filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-07")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() > 0
    # all rows come from exactly the two matching date partitions
    assert pruned.select(batch.DT_COLUMN).distinct().count() == 2


def test_rollup_invariance(spark, tmp_path):
    """SURVEY §5.2 metamorphic test: aggregates over rolled-up segments
    equal aggregates over raw data."""
    dest = str(tmp_path / "events_rollup")
    batch.index_task(
        spark,
        {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        rollup={
            "granularity": "hour",
            "dimensions": ["event_type"],
            "aggregations": [
                {"type": "count", "name": "n"},
                {"type": "doubleSum", "name": "total", "fieldName": "value"},
            ],
        },
    )
    rolled = spark.read.parquet(dest)
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    a = {
        r["event_type"]: (r["n"], round(r["total"], 6))
        for r in rolled.groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .collect()
    }
    b = {
        r["event_type"]: (r["n"], round(r["total"], 6))
        for r in raw.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert a == b
    assert rolled.count() < raw.count()  # rollup actually reduced rows


def test_rollup_hll_sketch_preserves_distinct_counts(spark, engine, tmp_path):
    """Mergeable HLL sketch columns (Druid's HyperLogLog ingest metric,
    TOC.md:41): a hyperUnique rollup metric materializes a binary sketch;
    querying hyperUnique over the rolled-up table folds the per-bucket
    sketches — and because HLL union is lossless, the folded estimate is
    IDENTICAL to a sketch built over the raw rows in one pass."""
    from coolplaydruid_spark.catalog import Catalog
    from coolplaydruid_spark.engine import DruidEngine

    dest = str(tmp_path / "events_hll")
    batch.index_task(
        spark,
        {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        rollup={
            "granularity": "day",
            "dimensions": ["event_type"],
            "aggregations": [
                {"type": "count", "name": "n"},
                {"type": "hyperUnique", "name": "uniq_users", "fieldName": "user_id"},
            ],
        },
    )
    rolled = spark.read.parquet(dest)
    assert dict(rolled.dtypes)["uniq_users"] == "binary"

    catalog = Catalog(spark)
    catalog.register("rolled", path=dest, time_column="ts", as_view=False)
    rows = DruidEngine(spark, catalog).execute(
        {
            "queryType": "timeseries",
            "dataSource": "rolled",
            "granularity": "all",
            "aggregations": [
                {"type": "hyperUnique", "name": "uniq_users", "fieldName": "uniq_users"}
            ],
            "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        }
    )
    folded = rows[0]["result"]["uniq_users"]

    raw = engine.catalog.table("events")
    one_pass = raw.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0]["e"]
    exact = raw.agg(F.count_distinct("user_id").alias("d")).collect()[0]["d"]
    assert folded == one_pass  # sketch union is lossless
    assert abs(folded - exact) / exact < 0.05  # and the estimate is sane


def test_append_merge_kill_archive(spark, tmp_path):
    dest = str(tmp_path / "tbl")
    arch = str(tmp_path / "archive")
    src = {"format": "parquet", "path": f"{SF_DIR}/events.parquet"}
    batch.index_task(spark, src, dest, time_column="ts")
    n1 = spark.read.parquet(dest).count()
    batch.append_task(spark, src, dest, time_column="ts")
    assert spark.read.parquet(dest).count() == 2 * n1

    batch.merge_task(spark, dest, target_files_per_partition=1)
    assert spark.read.parquet(dest).count() == 2 * n1

    before = spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().count()
    batch.kill_task(dest, ["2024-01-01"])
    after_kill = spark.read.parquet(dest)
    assert after_kill.select(batch.DT_COLUMN).distinct().count() == before - 1

    batch.archive_task(dest, arch, ["2024-01-02"])
    assert spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().count() == before - 2
    batch.archive_task(dest, arch, ["2024-01-02"], restore=True)
    assert spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().count() == before - 1

    status = batch.convert_segment_task(spark, dest, str(tmp_path / "tbl_zstd"))
    assert status.status == "SUCCESS"
    assert spark.read.parquet(str(tmp_path / "tbl_zstd")).count() == after_kill.count()

    assert batch.noop_task().status == "SUCCESS"
    assert all(t.status == "SUCCESS" for t in batch.REGISTRY.all())



def test_merge_rewrites_each_partition_never_the_table_root(spark, tmp_path, monkeypatch):
    """merge_task rewrites partition by partition: every partition ends
    with between 2 and n files (a day is split across n files, not held
    in one task), row counts per day are unchanged, and the table root is
    never removed, so the table never goes missing mid-merge."""
    import shutil
    from pathlib import Path

    dest = str(tmp_path / "tbl")
    src = {"format": "parquet", "path": f"{SF_DIR}/events.parquet"}
    batch.index_task(spark, src, dest, time_column="ts")
    batch.append_task(spark, src, dest, time_column="ts")

    def per_day():
        return {tuple(r) for r in spark.read.parquet(dest)
                .groupBy(batch.DT_COLUMN).count().collect()}

    before = per_day()
    removed = []
    rmtree = shutil.rmtree
    monkeypatch.setattr(shutil, "rmtree",
                        lambda p, *a, **k: removed.append(Path(p)) or rmtree(p, *a, **k))
    status = batch.merge_task(spark, dest, target_files_per_partition=3)
    assert batch.REGISTRY.get(status.task_id).status == "SUCCESS"
    assert Path(dest) not in removed
    assert per_day() == before
    counts = [len(list(p.glob("*.parquet"))) for p in Path(dest).glob(f"{batch.DT_COLUMN}=*")]
    assert counts and all(1 < n <= 3 for n in counts)

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.StringType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _write_json_batch(path, rows):
    import json
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{time.time_ns()}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows))


def test_streaming_ingest_matches_batch(spark, tmp_path):
    """Streaming file-source ingest lands rows in the same partitioned
    layout; a batch query over the sink sees exactly the streamed rows
    (the 'queryable while in-flight' contract, one trigger stale)."""
    src_dir = tmp_path / "stream_src"
    rows = [
        {"event_id": i, "ts": f"2024-03-0{1 + i % 3}T0{i % 9}:00:00", "event_type": "click",
         "value": float(i)}
        for i in range(30)
    ]
    _write_json_batch(src_dir, rows)
    stream = realtime.file_stream(spark, str(src_dir), EVENT_SCHEMA, fmt="json")
    q = realtime.realtime_index(
        stream,
        dest_path=str(tmp_path / "stream_tbl"),
        checkpoint_path=str(tmp_path / "ckpt"),
        time_column="ts",
    )
    q.awaitTermination(120)
    sink = spark.read.parquet(str(tmp_path / "stream_tbl"))
    assert sink.count() == 30
    assert sink.select(batch.DT_COLUMN).distinct().count() == 3
    assert sink.agg(F.sum("value")).collect()[0][0] == sum(float(i) for i in range(30))

    # second micro-batch appends; checkpoint gives exactly-once (no re-read)
    _write_json_batch(src_dir, [{"event_id": 100, "ts": "2024-03-04T00:00:00",
                                 "event_type": "view", "value": 1.0}])
    stream2 = realtime.file_stream(spark, str(src_dir), EVENT_SCHEMA, fmt="json")
    q2 = realtime.realtime_index(
        stream2,
        dest_path=str(tmp_path / "stream_tbl"),
        checkpoint_path=str(tmp_path / "ckpt"),
        time_column="ts",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "stream_tbl")).count() == 31


def test_streaming_rollup_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window rollup: closed windows are flushed as
    immutable aggregated segments (LSM flush analogue, TOC.md:42)."""
    src_dir = tmp_path / "stream_src2"
    rows = (
        [{"event_id": i, "ts": "2024-03-01T00:05:00", "event_type": "click", "value": 1.0}
         for i in range(5)]
        + [{"event_id": 9, "ts": "2024-03-01T02:00:00", "event_type": "click", "value": 1.0}]
    )
    _write_json_batch(src_dir, rows)
    stream = realtime.file_stream(spark, str(src_dir), EVENT_SCHEMA, fmt="json")
    q = realtime.realtime_index(
        stream,
        dest_path=str(tmp_path / "rollup_tbl"),
        checkpoint_path=str(tmp_path / "ckpt2"),
        time_column="ts",
        watermark="10 minutes",
        rollup={
            "window": "1 hour",
            "dimensions": ["event_type"],
            "aggregations": [("n", F.count(F.lit(1))), ("total", F.sum("value"))],
        },
    )
    q.awaitTermination(120)
    sink = spark.read.parquet(str(tmp_path / "rollup_tbl"))
    rows_out = {(r["ts"].isoformat(), r["n"]) for r in sink.collect()}
    # the 00:00 window closed (watermark passed it); the 02:00 window is
    # still open and therefore absent — exactly Druid's in-flight vs
    # handed-off segment split.
    assert ("2024-03-01T00:00:00", 5) in rows_out
    assert all(ts.startswith("2024-03-01T00") for ts, _ in rows_out)


def test_index_task_csv_and_json_sources(spark, tmp_path):
    """I1 source formats: csv and json inputs land in the same
    __dt-partitioned layout as parquet inputs."""
    import json as jsonlib

    rows = [
        {"event_id": i, "ts": f"2024-03-0{1 + i % 3}T0{i % 9}:00:00",
         "event_type": "click", "value": float(i)}
        for i in range(30)
    ]
    jsrc = tmp_path / "src_json"
    jsrc.mkdir()
    (jsrc / "a.json").write_text("\n".join(jsonlib.dumps(r) for r in rows))
    csrc = tmp_path / "src_csv"
    csrc.mkdir()
    (csrc / "a.csv").write_text(
        "event_id,ts,event_type,value\n"
        + "\n".join(f'{r["event_id"]},{r["ts"]},{r["event_type"]},{r["value"]}'
                    for r in rows)
    )

    for fmt, src in [("json", jsrc), ("csv", csrc)]:
        dest = tmp_path / f"tbl_{fmt}"
        status = batch.index_task(
            spark, {"format": fmt, "path": str(src)}, str(dest), time_column="ts"
        )
        assert status.status == "SUCCESS"
        out = spark.read.parquet(str(dest))
        assert out.count() == 30
        assert sorted(str(r["__dt"]) for r in out.select("__dt").distinct().collect()) == [
            "2024-03-01", "2024-03-02", "2024-03-03",
        ]
        assert out.schema["ts"].dataType.typeName() == "timestamp"


def test_zorder_clusters_both_columns(spark, engine):
    """Z-order write policy (the bitmap-index substitute): slicing the
    z-sorted frame into chunks, EVERY participating column shows
    locality — each chunk covers a small slice of the column's range,
    so row-group min/max stats prune filters on any of them. A
    single-column sort gives the other column no locality (span ~1)."""
    from coolplaydruid_spark.sources.zorder import zorder_value

    df = engine.catalog.table("events").select("user_id", "value")
    z = df.withColumn("__z", zorder_value(df, ["user_id", "value"]))
    rows = z.orderBy("__z").select("user_id", "value").collect()
    n_chunks = 16
    chunk = max(len(rows) // n_chunks, 1)

    def mean_span(col):
        vals = [float(r[col]) for r in rows]
        lo, hi = min(vals), max(vals)
        spans = []
        for i in range(0, len(rows) - chunk + 1, chunk):
            c = vals[i:i + chunk]
            spans.append((max(c) - min(c)) / (hi - lo))
        return sum(spans) / len(spans)

    assert mean_span("user_id") < 0.5
    assert mean_span("value") < 0.5


def test_index_task_zorder_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "events_z")
    status = batch.index_task(
        spark,
        {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        zorder_by=["user_id", "value"],
    )
    assert status.status == "SUCCESS"
    out = spark.read.parquet(dest)
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert out.count() == src.count()
    assert "__z" not in out.columns


def test_retention_task(spark, tmp_path):
    """Coordinator retention rules: partitions strictly before the cutoff
    drop (or archive); newer partitions survive."""
    dest = str(tmp_path / "tbl")
    arch = str(tmp_path / "arch")
    batch.index_task(
        spark,
        {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
    )
    before = spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().count()
    st = batch.retention_task(dest, drop_before="2024-01-05", archive_path=arch)
    assert st.status == "SUCCESS"
    kept = {str(r[0]) for r in
            spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().collect()}
    assert min(kept) == "2024-01-05" and len(kept) == before - 4
    archived = {str(r[0]) for r in
                spark.read.parquet(arch).select(batch.DT_COLUMN).distinct().collect()}
    assert archived == {"2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"}

    batch.retention_task(dest, drop_before="2024-01-07")  # hard drop
    kept = {str(r[0]) for r in
            spark.read.parquet(dest).select(batch.DT_COLUMN).distinct().collect()}
    assert min(kept) == "2024-01-07"


def test_hashed_partitions_spec_joins_without_shuffle(spark, tmp_path):
    """Druid partitionsSpec {type: hashed} → Spark bucketed table: two
    tables co-bucketed on user_id must sort-merge-join with ZERO
    Exchange (the 100 TB fact-fact join shape), and a groupBy on the
    bucket key must also aggregate shuffle-free."""
    src = {"format": "parquet", "path": f"{SF_DIR}/events.parquet"}
    for name in ("ev_bucketed_a", "ev_bucketed_b"):
        status = batch.index_task(
            spark,
            src,
            str(tmp_path / name),
            time_column="ts",
            partitions_spec={
                "type": "hashed",
                "dimensions": ["user_id"],
                "numShards": 4,
                "tableName": name,
            },
        )
        assert status.status == "SUCCESS"
    a, b = spark.table("ev_bucketed_a"), spark.table("ev_bucketed_b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b.select("user_id", "event_id"), on="user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0

        agg = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, agg_plan
        # bucketed results match the plain-parquet ground truth
        plain = spark.read.parquet(str(tmp_path / "ev_bucketed_a"))
        assert agg.count() == plain.select("user_id").distinct().count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")


def test_auto_compact_only_rewrites_fragmented_partitions(spark, tmp_path):
    """auto_compact_task compacts partitions above the file-count
    threshold and leaves cold partitions byte-identical."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from coolplaydruid_spark.sources import batch as b

    tbl = tmp_path / "tbl"
    # hot partition: 12 single-row files; cold partition: 1 file
    hot = spark.createDataFrame(
        [(i, f"2024-07-01 0{i % 10}:00:00") for i in range(12)], "id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hot = hot.withColumn("__dt", F.lit("2024-07-01"))
    hot.repartition(12).write.partitionBy("__dt").mode("append").parquet(str(tbl))
    cold = spark.createDataFrame(
        [(100, "2024-07-02 01:00:00")], "id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn("__dt", F.lit("2024-07-02"))
    cold.write.partitionBy("__dt").mode("append").parquet(str(tbl))

    cold_files_before = sorted(
        p.name for p in (tbl / "__dt=2024-07-02").glob("*.parquet")
    )
    before = {tuple(r) for r in spark.read.parquet(str(tbl)).select("id").collect()}

    st = b.auto_compact_task(spark, str(tbl), max_files_per_dt=4, target_files=1)
    assert b.REGISTRY.get(st.task_id).status == "SUCCESS"

    hot_files = list((tbl / "__dt=2024-07-01").glob("*.parquet"))
    assert len(hot_files) == 1
    cold_files_after = sorted(
        p.name for p in (tbl / "__dt=2024-07-02").glob("*.parquet")
    )
    assert cold_files_after == cold_files_before  # untouched
    after = {tuple(r) for r in spark.read.parquet(str(tbl)).select("id").collect()}
    assert after == before


def test_index_task_transform_spec(spark, tmp_path):
    """Druid 0.12 transformSpec: expression transforms + ingest filter
    applied before rollup/write, in the scan projection."""
    import tests.conftest as cf

    from pyspark.sql import functions as F

    from coolplaydruid_spark.sources import batch as b

    dest = str(tmp_path / "transformed")
    b.index_task(
        spark,
        {"type": "table", "path": f"{cf.SF_DIR}/events.parquet"},
        dest,
        time_column="ts",
        transform_spec={
            "transforms": [
                {"name": "net", "expression": "value * 0.9"},
                {"name": "kind", "expression": "upper(event_type)"},
            ],
            "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
        },
    )
    out = spark.read.parquet(dest)
    assert out.where(F.col("event_type") != "click").count() == 0
    rows = out.select("value", "net", "kind").collect()
    assert all(abs(r.net - r.value * 0.9) < 1e-9 for r in rows)
    assert {r.kind for r in rows} == {"CLICK"}


def test_tsv_and_delimited_ingest(spark, tmp_path):
    """Druid 0.12 tsv parseSpec: tab-delimited (default) and custom
    delimiter sources ingest through the same index task."""
    from coolplaydruid_spark.sources import batch

    tsv = tmp_path / "src.tsv"
    tsv.write_text("ts\tevent_type\tvalue\n"
                   "2024-01-01T00:00:05\tclick\t1.5\n"
                   "2024-01-02T00:00:05\tview\t2.5\n")
    dest = str(tmp_path / "tbl")
    status = batch.index_task(
        spark, {"type": "file", "path": str(tsv), "format": "tsv"},
        dest, time_column="ts",
    )
    assert status.status == "SUCCESS"
    got = spark.read.parquet(dest)
    assert got.count() == 2
    assert {r["event_type"] for r in got.collect()} == {"click", "view"}

    psv = tmp_path / "src.psv"
    psv.write_text("ts|event_type|value\n2024-01-03T00:00:05|purchase|3.5\n")
    status = batch.index_task(
        spark, {"type": "file", "path": str(psv), "format": "delimited",
                "delimiter": "|"},
        str(tmp_path / "tbl2"), time_column="ts",
    )
    assert status.status == "SUCCESS"
    assert spark.read.parquet(str(tmp_path / "tbl2")).count() == 1


def test_regex_parsespec_ingest(spark, tmp_path):
    """Druid 0.12 regex parseSpec: one capture group per column;
    unparseable lines dropped; metrics cast downstream by transforms."""
    from coolplaydruid_spark.sources import batch

    log = tmp_path / "app.log"
    log.write_text(
        "[2024-01-01T00:00:05] click value=1.5\n"
        "GARBAGE LINE\n"
        "[2024-01-02T10:00:05] view value=2.25\n"
    )
    dest = str(tmp_path / "tbl")
    status = batch.index_task(
        spark,
        {
            "type": "file", "path": str(log), "format": "regex",
            "pattern": r"^\[([0-9T:.-]+)\] (\w+) value=([0-9.]+)$",
            "columns": ["ts", "event_type", "value"],
        },
        dest, time_column="ts",
        transform_spec={"transforms": [
            {"name": "value", "expression": "cast(value, 'DOUBLE')"}]},
    )
    assert status.status == "SUCCESS"
    got = spark.read.parquet(dest).orderBy("ts").collect()
    assert len(got) == 2  # garbage line dropped
    assert got[0]["event_type"] == "click" and got[0]["value"] == 1.5
    assert got[1]["value"] == 2.25
    assert {str(r["__dt"]) for r in got} == {"2024-01-01", "2024-01-02"}


# ---- ingest-time signature materialization (r9 verdict #1) ---------------


def _media_rows(spark, ids_days):
    """(media_id, ts, source, text, media=png, wav) rows; media bytes are
    pure functions of the text (the _docs_as_media convention) so inline
    recomputation must match the store bit-for-bit."""
    from coolplaydruid_spark.operators import multimodal

    rows = []
    for mid, day in ids_days:
        text = f"media item {mid} shares this exact boilerplate run " \
               f"of tokens {'x' if mid % 2 else 'y'}"
        data = text.encode()
        png = multimodal.png_encode(
            bytes(data[i % len(data)] for i in range(192)), 8, 8, 3)
        wav = multimodal.wav_encode(data)
        rows.append((mid, f"2024-01-0{day} 00:00:00", f"src{mid % 2}",
                     text, png, wav, len(text)))
    return spark.createDataFrame(
        rows,
        "media_id long, ts string, source string, text string, "
        "media binary, wav binary, duration_ms long",
    )


_SIG_SPECS = [
    {"type": "phash"},
    {"type": "audio_fingerprint", "media_col": "wav", "name": "afp"},
    # frame hashing is codec-independent byte slicing, so the wav bytes
    # serve as the opaque "video" payload
    {"type": "video_framehash", "media_col": "wav", "name": "vfh",
     "every_ms": 20},
    {"type": "minhash_shingles", "text_col": "text", "id_col": "media_id"},
    {"type": "group_shingles", "group_col": "source", "text_col": "text",
     "id_col": "media_id"},
]


def test_index_task_materializes_signatures(spark, tmp_path):
    """index_task(signatures=) writes phash/afp/shingle/group-shingle
    tables beside the segments, each __dt-partitioned and bit-identical
    to the inline operators over the same rows."""
    from coolplaydruid_spark.operators import dedup, multimodal

    df = _media_rows(spark, [(i, 1 + i % 2) for i in range(8)])
    dest = str(tmp_path / "media_tbl")
    status = batch.index_task(
        spark, {"format": "dataframe", "df": df}, dest,
        time_column="ts", signatures=_SIG_SPECS,
    )
    assert status.status == "SUCCESS"

    stored_ph = batch.read_signatures(spark, dest, "phash")
    assert set(stored_ph.columns) == {"media_id", "phash_hi", "phash_lo",
                                      batch.DT_COLUMN}
    assert {str(r[batch.DT_COLUMN]) for r in
            stored_ph.select(batch.DT_COLUMN).distinct().collect()} == \
        {"2024-01-01", "2024-01-02"}
    inline_ph = {(r.media_id, r.phash_hi, r.phash_lo)
                 for r in multimodal.phash_signatures(df).collect()}
    assert {(r.media_id, r.phash_hi, r.phash_lo)
            for r in stored_ph.collect()} == inline_ph

    stored_afp = batch.read_signatures(spark, dest, "afp")
    inline_afp = {(r.media_id, r.afp) for r in
                  multimodal.audio_fingerprint(df, media_col="wav").collect()}
    assert {(r.media_id, r.afp) for r in stored_afp.collect()} == inline_afp

    stored_vfh = batch.read_signatures(spark, dest, "vfh")
    inline_vfh = {(r.media_id, r.frame_ts_ms, r.frame_hash)
                  for r in multimodal.video_frame_signatures(
                      df, every_ms=20, media_col="wav").collect()}
    assert {(r.media_id, r.frame_ts_ms, r.frame_hash)
            for r in stored_vfh.collect()} == inline_vfh

    stored_sh = batch.read_signatures(spark, dest, "minhash_shingles")
    inline_sh = {(r.media_id, r.shingle) for r in dedup.shingles(
        df, k=3, text_col="text", id_col="media_id", as_hash=True).collect()}
    assert {(r.media_id, r.shingle) for r in stored_sh.collect()} == inline_sh

    stored_gs = batch.read_signatures(spark, dest, "group_shingles")
    # distinct within each __dt partition
    assert stored_gs.count() == stored_gs.distinct().count()
    inline_gs = {(r.source, r.shingle) for r in dedup.shingles(
        df, k=3, text_col="text", id_col="media_id",
        extra_cols=["source"]).select("source", "shingle").distinct().collect()}
    assert {(r.source, r.shingle)
            for r in stored_gs.select("source", "shingle").distinct().collect()} \
        == inline_gs


def test_signature_store_survives_append_and_compaction(spark, tmp_path):
    """I5 parity: an append task appends new __dt partitions to every
    signature table, and auto-compaction over a fragmented signature
    partition preserves its values."""
    day1 = _media_rows(spark, [(i, 1) for i in range(4)])
    day2 = _media_rows(spark, [(i, 2) for i in range(10, 14)])
    dest = str(tmp_path / "media_tbl")
    batch.index_task(spark, {"format": "dataframe", "df": day1}, dest,
                     time_column="ts", signatures=[{"type": "phash"}])
    before = {(r.media_id, r.phash_hi, r.phash_lo)
              for r in batch.read_signatures(spark, dest, "phash").collect()}
    batch.append_task(spark, {"format": "dataframe", "df": day2}, dest,
                      time_column="ts", signatures=[{"type": "phash"}])
    after = batch.read_signatures(spark, dest, "phash")
    assert {str(r[batch.DT_COLUMN]) for r in
            after.select(batch.DT_COLUMN).distinct().collect()} == \
        {"2024-01-01", "2024-01-02"}
    got = {(r.media_id, r.phash_hi, r.phash_lo) for r in after.collect()}
    assert before < got and len(got) == 8

    # fragment the day-2 signature partition, then auto-compact the store
    frag = after.where(F.col(batch.DT_COLUMN) == "2024-01-02")
    sig_root = batch.signature_path(dest, "phash")
    (frag.repartition(12).write.mode("overwrite")
     .parquet(f"{sig_root}/{batch.DT_COLUMN}=2024-01-02"))
    status = batch.auto_compact_task(spark, sig_root, max_files_per_dt=2)
    assert status.status == "SUCCESS"
    import pathlib
    files = list(pathlib.Path(
        f"{sig_root}/{batch.DT_COLUMN}=2024-01-02").glob("*.parquet"))
    assert len(files) == 1
    assert {(r.media_id, r.phash_hi, r.phash_lo)
            for r in batch.read_signatures(spark, dest, "phash").collect()} == got


def test_from_store_pairing_is_decode_free(spark, tmp_path):
    """The read half of the materialization story: near-dup pairing over
    stored signatures carries NO Python decode stage in its physical
    plan — re-pairing after a threshold change is a pure JVM join — and
    produces exactly the inline-decode result."""
    from coolplaydruid_spark.operators import multimodal

    df = _media_rows(spark, [(i, 1 + i % 2) for i in range(8)])
    dest = str(tmp_path / "media_tbl")
    batch.index_task(
        spark, {"format": "dataframe", "df": df}, dest, time_column="ts",
        signatures=[{"type": "phash"},
                    {"type": "audio_fingerprint", "media_col": "wav",
                     "name": "afp"}],
    )
    stored = batch.read_signatures(spark, dest, "phash") \
        .select("media_id", "phash_hi", "phash_lo")
    pairs = multimodal.phash_neardup(None, max_hamming=6, signatures=stored)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan
    inline = {(r.media_id_a, r.media_id_b, r.hamming)
              for r in multimodal.phash_neardup(df, max_hamming=6).collect()}
    assert {(r.media_id_a, r.media_id_b, r.hamming)
            for r in pairs.collect()} == inline

    # incremental, both sides from the store: decode-free batch x corpus
    # AND value-identical to the inline decode path over the same split
    corpus_sig = stored.where(F.col("media_id") % 2 == 0)
    batch_sig = stored.where(F.col("media_id") % 2 == 1)
    inc = multimodal.phash_neardup_incremental(
        corpus_signatures=corpus_sig, batch_signatures=batch_sig,
        max_hamming=6)
    inc_plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in inc_plan
    inc_inline = multimodal.phash_neardup_incremental(
        batch_df=df.where(F.col("media_id") % 2 == 1),
        corpus_df=df.where(F.col("media_id") % 2 == 0),
        max_hamming=6)
    assert {(r.media_id_a, r.media_id_b, r.hamming) for r in inc.collect()} \
        == {(r.media_id_a, r.media_id_b, r.hamming)
            for r in inc_inline.collect()}

    stored_afp = batch.read_signatures(spark, dest, "afp") \
        .select("media_id", "afp")
    apairs = multimodal.audio_neardup(None, max_hamming=3,
                                      signatures=stored_afp)
    aplan = apairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in aplan
    ainline = {(r.media_id_a, r.media_id_b, r.hamming)
               for r in multimodal.audio_neardup(
                   df, max_hamming=3, media_col="wav").collect()}
    assert {(r.media_id_a, r.media_id_b, r.hamming)
            for r in apairs.collect()} == ainline


def test_segment_lifecycle_tasks_cover_signature_store(spark, tmp_path):
    """kill/retention/archive/restore move signature-table partitions in
    LOCKSTEP with segments — a dropped day must not leave ghost
    signatures (they would dedup future batches against deleted corpus),
    and a restored day comes back with its accept-time signatures."""
    import pathlib

    df = _media_rows(spark, [(1, 1), (2, 1), (10, 2), (11, 2)])
    dest = str(tmp_path / "media_tbl")
    batch.index_task(spark, {"format": "dataframe", "df": df}, dest,
                     time_column="ts", signatures=[{"type": "phash"}])
    sig_root = pathlib.Path(batch.signature_path(dest, "phash"))
    assert (sig_root / f"{batch.DT_COLUMN}=2024-01-01").exists()

    # archive day 1: segment AND signature partitions move
    arch = str(tmp_path / "arch")
    batch.archive_task(dest, arch, ["2024-01-01"])
    assert not (sig_root / f"{batch.DT_COLUMN}=2024-01-01").exists()
    arch_sig = pathlib.Path(batch.signature_path(arch, "phash"))
    assert (arch_sig / f"{batch.DT_COLUMN}=2024-01-01").exists()
    assert {r.media_id
            for r in batch.read_signatures(spark, dest, "phash").collect()} \
        == {10, 11}

    # restore brings the signatures back
    batch.archive_task(dest, arch, ["2024-01-01"], restore=True)
    assert {r.media_id
            for r in batch.read_signatures(spark, dest, "phash").collect()} \
        == {1, 2, 10, 11}

    # retention (kill path) drops segment + signature partitions together
    batch.retention_task(dest, drop_before="2024-01-02")
    assert not (pathlib.Path(dest) / f"{batch.DT_COLUMN}=2024-01-01").exists()
    assert not (sig_root / f"{batch.DT_COLUMN}=2024-01-01").exists()
    assert {r.media_id
            for r in batch.read_signatures(spark, dest, "phash").collect()} \
        == {10, 11}


def test_overwrite_reindex_clears_stale_signature_tables(spark, tmp_path):
    """An overwrite-mode re-index replaces the segments wholesale, so
    signature tables absent from the new task (including signatures=None)
    must not keep serving the replaced corpus."""
    df_a = _media_rows(spark, [(1, 1), (2, 1)])
    dest = str(tmp_path / "tbl")
    batch.index_task(spark, {"format": "dataframe", "df": df_a}, dest,
                     time_column="ts",
                     signatures=[{"type": "phash"},
                                 {"type": "audio_fingerprint",
                                  "media_col": "wav", "name": "afp"}])
    import pathlib
    assert pathlib.Path(batch.signature_path(dest, "afp")).exists()

    # re-ingest corpus B keeping only the phash spec: afp store must go,
    # and the phash store must hold ONLY corpus B
    df_b = _media_rows(spark, [(10, 2), (11, 2)])
    batch.index_task(spark, {"format": "dataframe", "df": df_b}, dest,
                     time_column="ts", signatures=[{"type": "phash"}])
    assert not pathlib.Path(batch.signature_path(dest, "afp")).exists()
    # overwrite replaces the SEGMENTS wholesale too (static partition
    # overwrite for this write; the session default is dynamic) — corpus
    # A's day-1 partition must not survive to contradict the store wipe
    assert {r.media_id for r in spark.read.parquet(dest).collect()} == {10, 11}
    assert {r.media_id for r in
            batch.read_signatures(spark, dest, "phash").collect()} == {10, 11}

    # re-ingest with signatures=None: the whole store goes
    batch.index_task(spark, {"format": "dataframe", "df": df_a}, dest,
                     time_column="ts")
    assert not pathlib.Path(dest + ".sig").exists()


def test_signature_task_backfills_existing_table(spark, tmp_path):
    """signature_task rebuilds signature tables from standing segments —
    the adoption/recovery path — bit-identical to ingest-time
    materialization."""
    from coolplaydruid_spark.operators import multimodal

    df = _media_rows(spark, [(i, 1 + i % 2) for i in range(6)])
    dest = str(tmp_path / "tbl")
    batch.index_task(spark, {"format": "dataframe", "df": df}, dest,
                     time_column="ts")  # no signatures at ingest
    status = batch.signature_task(spark, dest, "ts", [{"type": "phash"}])
    assert status.status == "SUCCESS"
    inline = {(r.media_id, r.phash_hi, r.phash_lo)
              for r in multimodal.phash_signatures(df).collect()}
    assert {(r.media_id, r.phash_hi, r.phash_lo)
            for r in batch.read_signatures(spark, dest, "phash").collect()} \
        == inline


def test_retention_covers_raw_date_signatures_under_rollup(spark, tmp_path):
    """Under a month rollup, segment __dt is the bucket start while
    signatures keep raw dates; retention must list victims across BOTH
    roots or in-range ghost signature partitions survive (review find)."""
    rows = []
    for i, day in [(1, "2024-01-05"), (2, "2024-01-20"), (3, "2024-02-10")]:
        rows.append((i, f"{day} 00:00:00", f"text body number {i} here", 1.0))
    df = spark.createDataFrame(
        rows, "doc_id long, ts string, text string, value double")
    dest = str(tmp_path / "tbl")
    batch.index_task(
        spark, {"format": "dataframe", "df": df}, dest, time_column="ts",
        rollup={"granularity": "month", "dimensions": [],
                "aggregations": [{"type": "doubleSum", "name": "v",
                                  "fieldName": "value"}]},
        signatures=[{"type": "minhash_shingles", "text_col": "text",
                     "id_col": "doc_id"}],
    )
    import pathlib
    sig_root = pathlib.Path(batch.signature_path(dest, "minhash_shingles"))
    # segments at bucket starts; signatures at raw dates
    assert (pathlib.Path(dest) / f"{batch.DT_COLUMN}=2024-01-01").exists()
    assert (sig_root / f"{batch.DT_COLUMN}=2024-01-05").exists()

    batch.retention_task(dest, drop_before="2024-02-01")
    assert not (pathlib.Path(dest) / f"{batch.DT_COLUMN}=2024-01-01").exists()
    assert not (sig_root / f"{batch.DT_COLUMN}=2024-01-05").exists()
    assert not (sig_root / f"{batch.DT_COLUMN}=2024-01-20").exists()
    assert (sig_root / f"{batch.DT_COLUMN}=2024-02-10").exists()
    # coarse rollup: segment __dt (bucket start 2024-02-01) never matches
    # the raw-date signature partitions — the documented coverage-check
    # opt-out case
    assert {r.doc_id for r in batch.read_signatures(
        spark, dest, "minhash_shingles",
        check_coverage=False).collect()} == {3}


def test_read_signatures_flags_partial_store(spark, tmp_path):
    """ADVICE r10: append_task WITHOUT signature specs onto a table that
    has a store leaves the new days unmaterialized — read_signatures must
    fail on the gap (a partial store silently admits duplicates), and
    signature_task is the documented backfill."""
    day1 = _media_rows(spark, [(i, 1) for i in range(4)])
    day2 = _media_rows(spark, [(i, 2) for i in range(10, 14)])
    dest = str(tmp_path / "media_tbl")
    batch.index_task(spark, {"format": "dataframe", "df": day1}, dest,
                     time_column="ts", signatures=[{"type": "phash"}])
    assert batch.signature_coverage_gaps(dest, "phash") == []
    batch.append_task(spark, {"format": "dataframe", "df": day2}, dest,
                      time_column="ts")  # no signatures= — store now partial
    assert batch.signature_coverage_gaps(dest, "phash") == ["2024-01-02"]
    with pytest.raises(ValueError, match="2024-01-02.*signature_task"):
        batch.read_signatures(spark, dest, "phash")
    # explicit opt-out still reads the partial store
    assert batch.read_signatures(
        spark, dest, "phash", check_coverage=False).count() == 4
    # backfill repairs it
    batch.signature_task(spark, dest, "ts", [{"type": "phash"}])
    assert batch.signature_coverage_gaps(dest, "phash") == []
    assert batch.read_signatures(spark, dest, "phash").count() == 8


def test_overwrite_fails_loudly_on_unclearable_sig_store(spark, tmp_path):
    """ADVICE r10: rmtree(ignore_errors=True) is a silent no-op when the
    .sig path can't be removed as a directory tree — the overwrite must
    refuse to proceed rather than leave stale signatures serving the
    replaced corpus."""
    df = _media_rows(spark, [(i, 1) for i in range(3)])
    dest = str(tmp_path / "media_tbl")
    # a plain FILE at the .sig path defeats rmtree exactly like a
    # non-local store would
    (tmp_path / "media_tbl.sig").write_text("not a directory")
    with pytest.raises(OSError, match="signature store"):
        batch.index_task(spark, {"format": "dataframe", "df": df}, dest,
                         time_column="ts", signatures=[{"type": "phash"}],
                         mode="overwrite")


def test_signature_store_writes_sorted_rowgroups(spark, tmp_path):
    """r10 verdict #7: signature tables are written sorted by their
    pairing keys, so Parquet row-group min/max stats make the from-store
    probe side skippable. Forces small row groups through the REAL
    write path (spec write_options) and asserts, per file: key runs are
    non-decreasing, row-group [min,max] ranges don't overlap, and a
    point probe touches exactly one of ≥3 groups — the skip-count
    evidence that an unsorted store (every group spanning the whole
    domain) cannot produce."""
    import glob

    import pyarrow.parquet as pq

    from coolplaydruid_spark.operators import multimodal

    texts = [(i, f"sorted rowgroup evidence item {i} with filler "
                 f"tokens {i % 7} {i % 13}") for i in range(2000)]
    rows = []
    for mid, text in texts:
        data = text.encode()
        png = multimodal.png_encode(
            bytes(data[i % len(data)] for i in range(192)), 8, 8, 3)
        rows.append((mid, "2024-01-01 00:00:00", png))
    df = spark.createDataFrame(
        rows, "media_id long, ts string, media binary").coalesce(4)
    dest = str(tmp_path / "sorted_sig_tbl")
    status = batch.index_task(
        spark, {"format": "dataframe", "df": df}, dest, time_column="ts",
        signatures=[{"type": "phash",
                     "write_options": {"parquet.block.size": "4096"}}],
    )
    assert status.status == "SUCCESS"

    files = glob.glob(batch.signature_path(dest, "phash") + "/*/*.parquet")
    assert files
    total_groups, probed = 0, []
    for f in files:
        pf = pq.ParquetFile(f)
        tbl = pf.read(columns=["phash_hi", "phash_lo"])
        keys = list(zip(tbl["phash_hi"].to_pylist(), tbl["phash_lo"].to_pylist()))
        assert keys == sorted(keys), f"{f} not sorted by (phash_hi, phash_lo)"
        names = [pf.metadata.row_group(0).column(c).path_in_schema
                 for c in range(pf.metadata.row_group(0).num_columns)]
        hi_idx = names.index("phash_hi")
        spans = []
        for g in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(g).column(hi_idx).statistics
            spans.append((st.min, st.max))
        assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:])), \
            f"{f} row-group phash_hi ranges overlap: {spans}"
        total_groups += len(spans)
        # point probes at every group boundary value: a group whose
        # [min,max] excludes the value is skippable. Duplicate keys may
        # legitimately span several groups (those rows genuinely match),
        # so the metric is the mean skipped FRACTION, not touched==1 —
        # an unsorted store scores 0 (every group spans the domain).
        if len(spans) > 1:
            for lo, _hi in spans:
                touched = sum(1 for a, b in spans if a <= lo <= b)
                probed.append(1.0 - touched / len(spans))
    assert total_groups >= 3 and probed, (
        f"only {total_groups} row groups — block.size knob stopped "
        "forcing multi-group files; the skip evidence is vacuous")
    mean_skip = sum(probed) / len(probed)
    assert mean_skip >= 0.4, (
        f"mean skipped fraction {mean_skip:.2f} < 0.4 across "
        f"{total_groups} groups — sorted row-group pruning is not "
        "selective")


def test_semantic_cells_signature_store(spark, tmp_path):
    """index_task(signatures=[semantic_cells]) materializes cell
    assignments pinned to the spec's centroids; the store reads back
    bit-identical to the inline operator and feeds
    semantic_dedup_pairs_incremental as corpus_cells with values equal
    to the corpus_df= inline path."""
    from coolplaydruid_spark.operators import dedup

    import random
    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)],
             f"2024-01-0{1 + i % 2} 00:00:00") for i in range(40)]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, ts string")
    cents = [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6),
             (2, [0.0] * 7 + [1.0])]
    dest = str(tmp_path / "emb_tbl")
    status = batch.index_task(
        spark, {"format": "dataframe", "df": df.where("vec_id % 5 != 0")},
        dest, time_column="ts",
        signatures=[{"type": "semantic_cells", "centroids": cents}],
    )
    assert status.status == "SUCCESS"

    stored = batch.read_signatures(spark, dest, "semantic_cells")
    assert set(stored.columns) == {"vec_id", "embedding", "__cell",
                                   "__cell_cos", batch.DT_COLUMN,
                                   "__centroid_version"}
    inline = dedup.semantic_cells(df.where("vec_id % 5 != 0"), cents)
    assert {(r["vec_id"], r["__cell"], r["__cell_cos"]) for r in stored.collect()} \
        == {(r["vec_id"], r["__cell"], r["__cell_cos"]) for r in inline.collect()}

    batch_df = df.where("vec_id % 5 = 0")
    from_store = dedup.semantic_dedup_pairs_incremental(
        batch_df, cents, threshold=0.3,
        corpus_cells=stored.select("vec_id", "embedding", "__cell"))
    inline_pairs = dedup.semantic_dedup_pairs_incremental(
        batch_df, cents, threshold=0.3,
        corpus_df=df.where("vec_id % 5 != 0"))
    got = {(r.id_a, r.id_b, r.cosine) for r in from_store.collect()}
    assert got == {(r.id_a, r.id_b, r.cosine) for r in inline_pairs.collect()}
    assert got, "no cross pair at threshold 0.3 — test lost its teeth"

    # write-sorted by cell within each partition file
    import glob
    for f in glob.glob(batch.signature_path(dest, "semantic_cells")
                       + "/*/*.parquet"):
        cells = [r["__cell"] for r in spark.read.parquet(f).collect()]
        assert cells == sorted(cells), f"{f} not sorted by __cell"
