"""Streaming tests (SURVEY §5.2 item 4): deterministic micro-batch
replay of the events fixture through a file-source stream with
Trigger.AvailableNow (the reference's CRON catch-up mode, README.md:5,35);
window aggregates, dedup, and sink idempotence under forced re-run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.sources.batch import load_table
from utc_cuip_kafka_aws_connector_spark.sources.sinks import idempotent_batch_writer
from utc_cuip_kafka_aws_connector_spark.streaming.ops import (
    session_window_agg,
    sliding_window_agg,
    streaming_dedup,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture re-materialized with microsecond timestamps (the
    raw file is TIMESTAMP(NANOS), which streaming's parquet source
    rejects the same way batch does)."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events")


def run_stream(spark, df, name: str, tmp_path, mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_matches_batch(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)

    agg = tumbling_window_agg(stream, "ts", "1 hour", watermark="10 minutes", keys=["event_type"])
    got = run_stream(spark, agg, "tumbling_out", tmp_path, mode="complete")

    expected = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    assert sorted(map(tuple, got.select("window_start", "event_type", "n").collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_sliding_and_session_windows_run(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    slid = run_stream(
        spark,
        sliding_window_agg(stream, "ts", "1 hour", "30 minutes", watermark="10 minutes"),
        "sliding_out",
        tmp_path,
        mode="complete",
    )
    assert slid.count() > 0

    stream2 = spark.readStream.schema(batch.schema).parquet(events_dir)
    sess = run_stream(
        spark,
        session_window_agg(stream2, "ts", gap="30 minutes", watermark="10 minutes", keys=["user_id"]),
        "session_out",
        tmp_path,
        mode="complete",
    )
    assert sess.count() > 0
    # sessions are per-user, disjoint, and each covers >= 1 event
    row = sess.select(F.min("n").alias("m")).collect()[0]
    assert row["m"] >= 1


def test_streaming_dedup(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    dup_dir = str(tmp_path / "dup")
    batch.union(batch).write.mode("overwrite").parquet(dup_dir)  # duplicated feed

    stream = spark.readStream.schema(batch.schema).parquet(dup_dir)
    deduped = streaming_dedup(stream, "ts", watermark="1 day", keys=["event_id"])
    got = run_stream(spark, deduped, "dedup_out", tmp_path)
    assert got.count() == batch.count()


def test_idempotent_sink_replay(spark, events_dir, tmp_path):
    """Re-running the same epoch must not duplicate rows (SURVEY §4.3)."""
    out = str(tmp_path / "sink")
    batch = spark.read.parquet(events_dir).withColumn("timestamp_iso", F.col("ts"))
    writer = idempotent_batch_writer(out, entity_col="event_type")

    writer(batch, 0)
    n1 = spark.read.parquet(f"{out}/batch_id=0").count()
    writer(batch, 0)  # forced replay of the same micro-batch
    n2 = spark.read.parquet(f"{out}/batch_id=0").count()
    assert n1 == n2 == batch.count()

    writer(batch, 1)  # a new epoch appends under its own key
    total = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*").count()
    assert total == 2 * batch.count()


def test_foreachbatch_available_now(spark, events_dir, tmp_path):
    """End-to-end catch-up run: file stream -> foreachBatch idempotent
    sink with Trigger.AvailableNow (reference CRON mode)."""
    out = str(tmp_path / "fb_sink")
    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir).withColumn(
        "timestamp_iso", F.col("ts")
    )
    q = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(out, entity_col="event_type"))
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.option("basePath", out).parquet(f"{out}/batch_id=*").count() == batch.count()


def test_stateful_running_stats(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-user running (count, sum, max)
    accumulated across micro-batches must equal the batch aggregate
    after the full replay."""
    from utc_cuip_kafka_aws_connector_spark.streaming.ops import stateful_running_stats

    batch = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    out = run_stream(
        spark,
        stateful_running_stats(stream),
        "stateful_out",
        tmp_path,
        mode="update",
    )
    # keep the LAST emitted row per key (running totals grow per batch)
    final = {
        r["key"]: (r["n"], r["total"], r["vmax"])
        for r in out.collect()  # memory sink appends in batch order
    }
    expected = {
        r["user_id"]: (r["n"], r["total"], r["vmax"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for k, (n, total, vmax) in expected.items():
        fn, ftotal, fvmax = final[k]
        assert fn == n and fvmax == vmax
        assert abs(ftotal - total) < 1e-6


def test_kafka_shaped_stream_end_to_end(spark, tmp_path):
    """The full reference job behind the Kafka column contract, no
    broker: file_message_reader emits (topic, value) exactly like
    kafka_reader(...).load(), then decode -> normalize -> idempotent
    partitioned sink under availableNow. Swapping in the real Kafka
    source changes only the reader call."""
    import json as _json

    from utc_cuip_kafka_aws_connector_spark.pipeline import AIR_SCHEMA, normalize_air
    from utc_cuip_kafka_aws_connector_spark.sources.kafka import (
        decode_json_payload,
        file_message_reader,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    msgs = [
        {"timestamp": 1610668800000, "nicename": "mlk-central", "pm2_5": 5.0, "pm10": 9.0,
         "temperature": 21.0, "humidity": 40.0},
        {"timestamp": 1612137600000, "nicename": "mlk-douglas", "pm2_5": 7.5, "pm10": 11.0,
         "temperature": 19.5, "humidity": 44.0},
        {"nicename": "no-timestamp-dropped", "pm2_5": 1.0},  # R6: dropped
    ]
    (incoming / "msgs.txt").write_text("\n".join(_json.dumps(m) for m in msgs))
    out = str(tmp_path / "lake")

    src = file_message_reader(spark, str(incoming), "MLK_CENTRAL_AIR_QUALITY")
    norm = normalize_air(decode_json_payload(src, AIR_SCHEMA).drop("topic"))
    q = (
        norm.writeStream.foreachBatch(idempotent_batch_writer(out, entity_col="nicename"))
        .option("checkpointLocation", str(tmp_path / "ckpt_kafka_shape"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    assert got.count() == 2  # timestamp-less message dropped, not written
    import os
    assert os.path.isdir(f"{out}/batch_id=0/nicename=mlk-central/year=2021/month=1")


def test_count_based_flush_cadence(spark, tmp_path):
    """Reference R7 count-mode parity (run.py:122-125: buffer N
    messages -> flush -> repeat): maxFilesPerTrigger=1 on the
    Kafka-shaped file source makes each input unit its own
    micro-batch, so three inputs produce three epoch-keyed flushes
    (batch_id=0,1,2) -- the count-based cadence end-to-end, not just
    a plumbed option."""
    import json as _json

    from utc_cuip_kafka_aws_connector_spark.pipeline import AIR_SCHEMA, normalize_air
    from utc_cuip_kafka_aws_connector_spark.sources.kafka import (
        decode_json_payload,
        file_message_reader,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    for i, site in enumerate(["mlk-central", "mlk-douglas", "mlk-peeples"]):
        msg = {"timestamp": 1610668800000 + i * 86400000, "nicename": site,
               "pm2_5": 5.0 + i, "pm10": 9.0, "temperature": 21.0, "humidity": 40.0}
        (incoming / f"m{i}.txt").write_text(_json.dumps(msg))
    out = str(tmp_path / "lake")

    src = file_message_reader(
        spark, str(incoming), "MLK_CENTRAL_AIR_QUALITY", max_files_per_trigger=1
    )
    norm = normalize_air(decode_json_payload(src, AIR_SCHEMA).drop("topic"))
    q = (
        norm.writeStream.foreachBatch(idempotent_batch_writer(out, entity_col="nicename"))
        .option("checkpointLocation", str(tmp_path / "ckpt_count"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    import os
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert batches == ["batch_id=0", "batch_id=1", "batch_id=2"]
    assert spark.read.option("basePath", out).parquet(f"{out}/batch_id=*").count() == 3


def test_rocksdb_state_store_matches_default(spark, events_dir, tmp_path):
    """The RocksDB state store (rocksdb_state_conf -- the 100 TB
    keyed-state path: disk-backed state, changelog checkpoints) must
    produce byte-identical aggregates to the default heap-backed
    provider. The provider is pinned per-query at first checkpoint,
    so a fresh query + checkpoint dir picks up the session conf."""
    from utc_cuip_kafka_aws_connector_spark.streaming.ops import rocksdb_state_conf

    batch = spark.read.parquet(events_dir)

    def run(tag):
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        agg = tumbling_window_agg(
            stream, "ts", "1 hour", watermark="10 minutes", keys=["event_type"]
        )
        got = run_stream(spark, agg, f"state_{tag}", tmp_path, mode="complete")
        return sorted(map(tuple, got.select("window_start", "event_type", "n").collect()))

    baseline = run("heap")
    conf = rocksdb_state_conf()
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rocks = run("rocks")
    finally:
        for k in conf:
            spark.conf.unset(k)
    assert rocks == baseline and len(rocks) > 0


def test_streaming_into_transaction_log(spark, tmp_path):
    """Structured Streaming -> transactional table: AvailableNow drains
    the source through transactional_batch_writer; re-running the same
    stream from a FRESH checkpoint replays every epoch, and the
    txn_id idempotence keeps the table exactly-once anyway."""
    from utc_cuip_kafka_aws_connector_spark.sources.txlog import (
        read_snapshot,
        transactional_batch_writer,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1"))
    table = str(tmp_path / "txtable")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(transactional_batch_writer(table))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ckpt_a")
    assert read_snapshot(spark, table).count() == 100
    run("ckpt_b")  # fresh checkpoint = full replay of epoch 0
    assert read_snapshot(spark, table).count() == 100  # still exactly once


def test_streaming_ops_accept_ntz_event_time(spark, tmp_path):
    """Round-4 regression armor: an upstream source that surfaces the
    event-time column as TIMESTAMP_NTZ (what Spark 4 reads from naive
    parquet timestamps) must not break any watermarked op -- the
    shared _as_event_time boundary casts it. Feed an ntz-typed stream
    straight into tumbling_window_agg and streaming_dedup and compare
    against the batch equivalents on the cast frame."""
    d = str(tmp_path / "ntz_events")
    spark.sql(
        """
        SELECT id AS event_id,
               CAST(timestamp_micros(1700000000000000 + id * 300000000)
                    AS TIMESTAMP_NTZ) AS ts,
               id % 7 AS user_id,
               CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type
        FROM range(500)
        """
    ).write.mode("overwrite").parquet(d)
    batch = spark.read.parquet(d)
    assert dict(batch.dtypes)["ts"] == "timestamp_ntz"  # precondition

    stream = spark.readStream.schema(batch.schema).parquet(d)
    agg = tumbling_window_agg(stream, "ts", "1 hour", watermark="10 minutes", keys=["event_type"])
    got = run_stream(spark, agg, "ntz_tumbling_out", tmp_path, mode="complete")
    cast_batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    expected = (
        cast_batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    assert sorted(map(tuple, got.select("window_start", "event_type", "n").collect())) == sorted(
        map(tuple, expected.collect())
    )

    dedup = streaming_dedup(
        spark.readStream.schema(batch.schema).parquet(d),
        ts_col="ts",
        watermark="1 day",
        keys=["user_id"],
    )
    got_d = run_stream(spark, dedup, "ntz_dedup_out", tmp_path)
    assert got_d.count() == 7  # one survivor per user_id key


def test_stream_stream_join_state_eviction(spark, tmp_path):
    """The property that makes a stream-stream join 100 TB-viable is
    state EVICTION: with a tight watermark plus a time-bound join
    condition, both sides' buffers are bounded by (watermark + join
    window), not by stream length. q95 replays with a deliberately
    replay-wide watermark (exactness), so this test is the only place
    the eviction path actually executes. Four parquet files replayed
    as four micro-batches (maxFilesPerTrigger=1):

      b1: 10 users, click@+5s / view@00:01 each  -> 10 pairs, 20 state rows
      b2: user 1 click@03:00 / view@02:55        -> 1 pair; watermark
          after this batch advances to 02:45 (min over both sides)
      b3: user 3 click@03:05 / view@03:01        -> 1 pair; b1's 20
          state rows are evicted at the END of this batch
      b4: user 2 LATE view@00:02                 -> joins NOTHING:
          user 2's click was evicted in b3

    Note the ordering matters: Spark's symmetric hash join does NOT
    pre-filter late input rows against the watermark -- a late row
    still joins any state that survived (observed: a late view in
    the same batch as the eviction still pairs). The guarantee that
    bounds 100 TB state is that once the watermark passes, state IS
    removed and late data can no longer resurrect it -- which is
    what b4 proves.

    Asserts (a) exactly the 12 on-time pairs come out and the late
    view joins nothing, (b) stateOperators numRowsTotal SHRINKS after
    the watermark jump, (c) the store reports the removals."""
    import json as _json
    import shutil as _shutil
    import time as _time
    from datetime import datetime

    watch = tmp_path / "join_feed"
    watch.mkdir()

    def write_batch(name, rows):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            rows, "user_id long, kind string, event_id long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        _shutil.copy(part, watch / f"{name}.parquet")
        _time.sleep(1.1)  # distinct mtimes: file source replays oldest-first

    t = lambda h, m, s=0: datetime(2024, 1, 1, h, m, s)
    b1 = []
    for u in range(1, 11):
        b1.append((u, "click", 100 + u, t(0, 5, u)))
        b1.append((u, "view", 200 + u, t(0, 1)))
    write_batch("b1", b1)
    write_batch("b2", [(1, "click", 300, t(3, 0)), (1, "view", 301, t(2, 55))])
    write_batch("b3", [(3, "click", 401, t(3, 5)), (3, "view", 402, t(3, 1))])
    write_batch("b4", [(2, "view", 400, t(0, 2))])  # late: state already evicted

    schema = "user_id long, kind string, event_id long, ts timestamp"
    base = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    clicks = (
        base.filter(F.col("kind") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    views = (
        base.filter(F.col("kind") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    ).select("user_id", "click_id", "view_id")

    q = (
        joined.writeStream.format("memory")
        .queryName("evict_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    out = {tuple(r) for r in spark.table("evict_out").collect()}
    expected = {(u, 100 + u, 200 + u) for u in range(1, 11)} | {(1, 300, 301), (3, 401, 402)}
    assert out == expected  # 12 on-time pairs, nothing from the late view
    assert not any(r[2] == 400 for r in out)  # the late view joined nothing

    progresses = [
        p if isinstance(p, dict) else _json.loads(p.json) for p in q.recentProgress
    ]
    totals = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators")
    ]
    removed = sum(
        op.get("numRowsRemoved", 0) for p in progresses for op in p.get("stateOperators", [])
    )
    assert max(totals) >= 20  # b1's buffers were really held
    assert totals[-1] < max(totals)  # ...and evicted after the watermark jump
    assert removed >= 20  # the store itself reports the removals
