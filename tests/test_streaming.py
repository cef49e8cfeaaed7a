"""Streaming runtime tests: file-source micro-batches with
processAllAvailable (SURVEY.md §5 plan), windows/watermark/dedup, wire
format header math, smart-stop, metrics listener, synthetic generator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pipegen_spark.generator.synthetic import generate_from_avro_fields
from pipegen_spark.monitor.metrics import MetricsCollector
from pipegen_spark.monitor.validator import ValidationRules, validate
from pipegen_spark.streaming import dedup as sdedup
from pipegen_spark.streaming import windows as win
from pipegen_spark.streaming import wire
from pipegen_spark.streaming.stop import SmartStop, expected_message_count


def test_synthetic_generator_types(spark):
    fields = [
        {"name": "user_id", "type": "string"},
        {"name": "email", "type": "string"},
        {"name": "event_type", "type": "string"},
        {"name": "amount", "type": "int"},
        {"name": "score", "type": ["null", "double"]},
        {"name": "flag", "type": "boolean"},
        {"name": "payload", "type": "bytes"},
        {
            "name": "level",
            "type": {"type": "enum", "name": "lv", "symbols": ["LOW", "HIGH"]},
        },
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
    ]
    rows = generate_from_avro_fields(spark, fields, 20).collect()
    assert len(rows) == 20
    r = rows[5]
    assert r.user_id == "user_id-5"  # id-like → name-<messageID>
    assert r.email.startswith("user") and r.email.endswith("@example.com")
    assert r.event_type in {"click", "view", "purchase", "signup", "login"}
    assert 0 <= r.amount < 10000
    assert r.level in {"LOW", "HIGH"}
    assert r.tags[0] == "item1" and r.tags[1] == "item-5"
    assert r.attrs["key1"] == "value1"
    assert bytes(r.payload) == b"data-5"
    # deterministic with the same seed
    again = generate_from_avro_fields(spark, fields, 20).collect()
    assert [x.amount for x in rows] == [y.amount for y in again]


def test_wire_header_roundtrip(spark):
    payload = b"avro-bytes-here"
    df = spark.createDataFrame([(payload,)], "payload binary")
    wrapped = df.select(
        wire.wrap_payload(F.col("payload"), schema_id=1234).alias("value")
    )
    row = wrapped.select(
        wire.validate_magic("value").alias("magic_ok"),
        wire.extract_schema_id("value").alias("sid"),
        wire.strip_header("value").alias("body"),
    ).collect()[0]
    assert row.magic_ok is True
    assert row.sid == 1234
    assert bytes(row.body) == payload


def test_windowed_counts_batch(spark):
    from pipegen_spark.catalog import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    out = win.windowed_counts(ev, "ts", "1 hour", ["event_type"])
    rows = out.collect()
    assert rows
    assert all(
        (r.window_end - r.window_start).total_seconds() == 3600 for r in rows
    )


def test_sliding_and_session_windows(spark):
    from pipegen_spark.catalog import table

    ev = table(spark, "/root/testdata/sf0.001", "events").limit(200)
    slid = ev.groupBy(win.sliding("ts", "2 hours", "1 hour")).count().collect()
    assert slid
    sess = ev.groupBy(win.session("ts", "30 minutes")).count().collect()
    assert sess


def test_streaming_window_with_watermark(spark, tmp_path):
    """File-source micro-batch: watermarked tumbling counts reach the sink."""
    from pipegen_spark.catalog import table

    src_dir = str(tmp_path / "stream-in")
    table(spark, "/root/testdata/sf0.001", "events").limit(500).coalesce(
        1
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    agg = win.windowed_counts(
        stream, "ts", "1 hour", ["event_type"], watermark="10 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode emits only watermark-closed windows; the final window
        # stays open — compare against the closed subset of the batch result
        got = spark.sql("SELECT COUNT(*) c FROM win_counts").collect()[0].c
        assert got > 0
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:30"), (2, "2024-01-01 00:01:00")]
    df = spark.createDataFrame(rows, ["k", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    src = str(tmp_path / "dedup-in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    dd = sdedup.dedup_stream(stream, ["k"], ts_col="ts", watermark="1 hour")
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT k FROM dedup_out").collect()
        assert sorted(r.k for r in got) == [1, 2]
    finally:
        q.stop()


def test_smart_stop_expected_count(spark, tmp_path):
    src = str(tmp_path / "ss-in")
    spark.range(100).withColumn("v", F.col("id") * 2).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long, v long").parquet(src)
    q = (
        stream.writeStream.format("memory")
        .queryName("ss_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    monitor = SmartStop(q, expected_rows=100, no_message_timeout=20, hard_timeout=60)
    reason = monitor.await_done()
    assert reason == "expected_count"
    assert monitor.total_rows >= 100
    assert not q.isActive


def test_expected_count_derivation():
    assert expected_message_count(500, 100, 30) == 500
    assert expected_message_count(None, 100, 30) == 3000  # rate × duration
    assert expected_message_count(0, 50, 10) == 500


def test_metrics_collector_attached(spark, tmp_path):
    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        src = str(tmp_path / "mc-in")
        spark.range(50).coalesce(1).write.parquet(src)
        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .writeStream.format("memory")
            .queryName("mc_out")
            .option("checkpointLocation", str(tmp_path / "ckpt4"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # A query an earlier test stopped can deliver its termination
        # event after addListener, so pick this query's summary by name.
        def mine():
            return [m for m in collector.summaries() if m["query"] == "mc_out"]

        deadline = time.time() + 10
        while time.time() < deadline:
            s = mine()
            if s and s[0]["input_rows"] >= 50:
                break
            time.sleep(0.2)
        s = mine()
        assert s and s[0]["input_rows"] >= 50
        assert s[0]["backpressure"] in ("OK", "BACKPRESSURED")
    finally:
        spark.streams.removeListener(collector)


def test_validator_rules(spark):
    df = spark.createDataFrame(
        [("a", "1"), (None, "2"), ("c", "x")], ["name", "amount"]
    )
    out = validate(
        df,
        ValidationRules(
            required_fields=["name"], type_checks={"amount": "int"}
        ),
    )
    assert out["missing_name"] == 1
    assert out["badtype_amount"] == 1
    assert out["total_rows"] == 3


def test_state_partitions_restores_conf_on_error(spark):
    from pipegen_spark.streaming.filesource import state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with state_partitions(spark, 4):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

def test_session_state_partitions_scales_with_events(spark, tmp_path):
    """r14: session-window state partitions derive from the events
    table size — floor 8 below ~8 MiB, one per MiB up to
    defaultParallelism above it (the sf1 sweep moved the optimum from
    the sf0.1-tuned 8 to 16 at 10x events)."""
    import os

    from pipegen_spark.streaming.filesource import (
        _events_bytes,
        session_state_partitions,
    )

    # real sf dirs: the rule reproduces the measured optima
    assert max(8, min(32, _events_bytes("/root/testdata/sf0.01") // (1 << 20))) == 8
    assert max(8, min(32, _events_bytes("/root/testdata/sf0.1") // (1 << 20))) == 8

    # synthetic: a 20 MiB events file resolves to 20 (or the core cap)
    sf = tmp_path / "sfbig"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"\x00" * (20 << 20))
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with session_state_partitions(spark, str(sf)):
        got = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # floor 8 dominates the core cap on small boxes (8 tiny state
        # partitions on 4 cores is the r13-measured sf0.1 optimum)
        assert got == max(8, min(cores, 20))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # part-file directory tables (derived sf1 corpus) sum their parts
    d = sf / "dir_sf"
    (d / "events.parquet").mkdir(parents=True)
    for i in range(3):
        (d / "events.parquet" / f"part-{i}").write_bytes(b"\x00" * (1 << 20))
    assert _events_bytes(str(d)) == 3 << 20
