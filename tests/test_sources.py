"""Source-contract tests: the Kafka reader surface (pinned against a
golden fixture — no broker ships in this container, so a typo in the
option dict or value schema would otherwise ship silently), the A15
catalog/checkpoint lifecycle, and the fixture loader's schema reuse."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eye_of_sauron_spark.sources import TABLES, catalog, load_table
from eye_of_sauron_spark.sources.streams import (
    FRAME_MESSAGE_SCHEMA,
    decode_frame_messages,
    frame_record_key,
    kafka_reader_options,
)

# ---------------------------------------------------------------- kafka

# The consumed surface of the reference producer/consumer pair
# (src/prediction_producer.py:68-75,114; src/params.py:9-25). Changing
# kafka_reader_options or FRAME_MESSAGE_SCHEMA must be a deliberate,
# test-visible act.
GOLDEN_READER_OPTIONS = {
    "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
    "subscribe": "raw_frame_topic",
    "startingOffsets": "earliest",
    "failOnDataLoss": "false",
}

GOLDEN_VALUE_SCHEMA = (
    "timestamp DOUBLE, camera INT, frame_num INT, "
    "original_frame STRING, original_dtype STRING, original_shape ARRAY<INT>"
)


def test_kafka_reader_options_match_golden():
    assert (
        kafka_reader_options("broker1:9092,broker2:9092", "raw_frame_topic")
        == GOLDEN_READER_OPTIONS
    )


def test_kafka_reader_options_bounded_trigger():
    opts = kafka_reader_options(
        "b:9092", "t", starting_offsets="latest", max_offsets_per_trigger=5000
    )
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "5000"  # str: option() stringifies
    assert set(opts) == set(GOLDEN_READER_OPTIONS) | {"maxOffsetsPerTrigger"}


def test_frame_value_schema_matches_golden():
    assert FRAME_MESSAGE_SCHEMA == GOLDEN_VALUE_SCHEMA


def test_frame_message_roundtrip(spark):
    # producer shape (reference transform + np_to_json) -> kafka
    # record (key/value binary) -> decode_frame_messages recovers
    # every typed field and the "{camera}_{frame_num}" key
    msg = {
        "timestamp": 1723500000.25,
        "camera": 3,
        "frame_num": 41,
        "original_frame": "AAECAw==",
        "original_dtype": "|u1",
        "original_shape": [2, 2, 1],
    }
    raw = spark.createDataFrame(
        [(3, 41, json.dumps(msg))], "camera INT, frame_num INT, js STRING"
    ).select(
        frame_record_key(F.col("camera"), F.col("frame_num"))
        .cast("binary")
        .alias("key"),
        F.col("js").cast("binary").alias("value"),
    )
    row = decode_frame_messages(raw).collect()[0]
    assert row["record_key"] == "3_41"
    assert row["camera"] == 3 and row["frame_num"] == 41
    assert row["original_frame"] == "AAECAw=="
    assert row["original_dtype"] == "|u1"
    assert row["original_shape"] == [2, 2, 1]
    assert row["timestamp"] == pytest.approx(1723500000.25)


# -------------------------------------------------------------- catalog

def test_catalog_view_lifecycle(spark, sf_dir):
    names = ("region", "nation")
    created = catalog.create_fixture_views(spark, sf_dir, names)
    assert created == ["region", "nation"]
    assert set(names) <= set(catalog.list_views(spark))
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    dropped = catalog.drop_views(spark, names)
    assert sorted(dropped) == ["nation", "region"]
    assert not set(names) & set(catalog.list_views(spark))
    # idempotent: dropping again drops nothing and does not raise
    assert catalog.drop_views(spark, names) == []


def test_checkpoint_lifecycle(tmp_path):
    root = str(tmp_path)
    path = catalog.checkpoint_dir(root, "camera_7")
    os.makedirs(os.path.join(path, "offsets"))
    assert catalog.clear_checkpoint(root, "camera_7") is True
    assert not os.path.exists(path)
    assert catalog.clear_checkpoint(root, "camera_7") is False  # already gone


def test_checkpoint_refuses_escape(tmp_path):
    with pytest.raises(ValueError, match="escapes root"):
        catalog.clear_checkpoint(str(tmp_path), "../outside")


def test_decode_passes_kafka_metadata_through(spark):
    # a format("kafka") row carries (key, value, topic, partition,
    # offset, timestamp, timestampType); decode must keep the routing
    # metadata and drop only the broker-side timestamp in favor of the
    # producer-embedded ingest timestamp (the latency-metric one)
    msg = {
        "timestamp": 1723500000.25,
        "camera": 3,
        "frame_num": 41,
        "original_frame": "AAECAw==",
        "original_dtype": "|u1",
        "original_shape": [4],
    }
    raw = spark.createDataFrame(
        [("3_41", json.dumps(msg), "raw_frame_topic", 3, 17)],
        "key STRING, value STRING, topic STRING, partition INT, offset BIGINT",
    ).select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        "partition",
        "offset",
        F.lit("2024-08-12 22:40:00").cast("timestamp").alias("timestamp"),
    )
    row = decode_frame_messages(raw).collect()[0]
    assert row["topic"] == "raw_frame_topic"
    assert row["partition"] == 3 and row["offset"] == 17
    assert row["record_key"] == "3_41"
    # the surviving timestamp is the in-message ingest time (double),
    # not the broker timestamp
    assert row["timestamp"] == pytest.approx(1723500000.25)


def test_encode_decode_frame_records_roundtrip(spark):
    from eye_of_sauron_spark.sources.streams import encode_frame_records

    frames = spark.createDataFrame(
        [(3, 41, b"\x00\x01\x02\x03", 1723500000.25),
         (3, 42, b"\xff\xfe", 1723500001.5),
         (6, 7, b"zz", 1723500002.0)],
        "camera INT, frame_num INT, payload BINARY, t DOUBLE",
    )
    wire = encode_frame_records(frames, n_partitions=4)
    # keyed publish: camera -> one partition, offsets dense per partition
    rows = {r["record_key"]: r for r in decode_frame_messages(wire).collect()}
    assert set(rows) == {"3_41", "3_42", "6_7"}
    assert rows["3_41"]["partition"] == 3 and rows["6_7"]["partition"] == 2
    assert {rows["3_41"]["offset"], rows["3_42"]["offset"]} == {0, 1}
    assert rows["3_41"]["original_frame"] == "AAECAw=="
    assert rows["3_41"]["original_dtype"] == "|u1"
    assert rows["3_41"]["original_shape"] == [4]
    assert rows["3_41"]["timestamp"] == pytest.approx(1723500000.25)


# ------------------------------------------------------- schema reuse

_GROUPS = itertools.count()


@contextlib.contextmanager
def _job_group(sc, group):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn launched). Jobs reach the status
    tracker through the asynchronous listener bus, so a fence job is
    run after fn and awaited first: once it is visible, every job fn
    started is too."""
    sc = spark.sparkContext
    group = f"schema-reuse-{next(_GROUPS)}"
    with _job_group(sc, group):
        out = fn()
    with _job_group(sc, group + "|fence"):
        sc.parallelize([0], 1).count()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "|fence"):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _row_hash(df):
    """(row count, order-independent sum of per-row xxhash64)."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return r["n"], r["h"]


@pytest.mark.parametrize("name", TABLES)
def test_second_load_reuses_inferred_schema(spark, sf_dir, name):
    first = load_table(spark, sf_dir, name)
    second, jobs = _jobs_run_by(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert second.schema == first.schema
    if name == "events":
        assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    assert _row_hash(second) == _row_hash(first)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                  "r_name": ["AFRICA", "AMERICA"]}),
        path,
    )
    old, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1  # a file never read before is inferred
    assert old.columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int64()),
                  "r_comment": ["rewritten"]}),
        path,
    )
    new, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert new.schema == T.StructType([
        T.StructField("r_regionkey", T.LongType()),
        T.StructField("r_comment", T.StringType()),
    ])
    assert [tuple(r) for r in new.collect()] == [(0, "rewritten")]


def test_nanos_events_reuse_schema(spark, tmp_path):
    # a TIMESTAMP(NANOS) events.ts infers as LONG under nanosAsLong;
    # the reused LONG schema must read and truncate to micros the same
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([1723500000123456789], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    first = load_table(spark, str(tmp_path), "events")
    second, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    rows = second.collect()
    assert rows == first.collect()
    assert rows[0]["ts"].microsecond == 123456
