"""scan_parquet's schema memo: a repeat scan of an unchanged file set reuses
the schema Spark inferred the first time instead of running the inference
job again, and anything that could change the inferred schema infers
afresh."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import polars_ruby_spark as pl
from polars_ruby_spark.sources import io


@pytest.fixture
def empty_memo():
    """Each test starts from an empty memo, so its first scan infers."""
    io._inferred_schema.cache_clear()


def _scan(spark, count_jobs, path):
    """(schema of scan_parquet(path), Spark jobs its construction ran)."""
    lf, jobs = count_jobs(lambda: pl.scan_parquet(path, spark=spark))
    return lf._sdf.schema, jobs


def test_repeat_scan_runs_no_spark_job(spark, count_jobs, tmp_path, empty_memo):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first, jobs = _scan(spark, count_jobs, path)
    assert jobs == 1  # the schema inference job
    first.add("edited_by_caller", T.IntegerType())  # must not reach the memo
    again, jobs = _scan(spark, count_jobs, path)
    assert jobs == 0
    assert again.names == ["a", "b"]
    assert pl.scan_parquet(path, spark=spark).collect().to_a() == [
        {"a": 1, "b": "x"}, {"a": 2, "b": "y"}, {"a": 3, "b": "z"}]


def test_repeat_read_schema_equals_fresh_inference(spark, count_jobs, sf_dir,
                                                   tmp_path, empty_memo):
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    paths = [os.path.join(sf001, t) for t in sorted(os.listdir(sf001))]
    # a pyarrow-written TIMESTAMP(NANOS) column, read as Long and cast
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
        "v": [1.5, 2.5]}), ns)
    # a hive-partitioned directory holding one file: the partition column
    # joins the schema
    hive = tmp_path / "hive"
    (hive / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"v": [1, 2]}), str(hive / "p=1" / "d.parquet"))
    paths += [ns, str(hive)]
    for path in paths:
        pl.scan_parquet(path, spark=spark)  # infers, and sets nanosAsLong
        sdf, jobs = count_jobs(
            lambda: io._read_parquet(spark, path, io._parquet_files(path)))
        assert jobs == 0, path
        assert sdf.schema == spark.read.parquet(path).schema, path
    schema, jobs = _scan(spark, count_jobs, str(hive))
    assert jobs == 0 and schema.names == ["v", "p"]
    schema, jobs = _scan(spark, count_jobs, ns)
    assert jobs == 0 and schema["ts"].dataType.typeName() == "timestamp"
    assert pl.scan_parquet(ns, spark=spark).collect().to_a()[0]["ts"] == \
        dt.datetime(2023, 11, 14, 22, 13, 20, 123456)


def test_rewritten_file_infers_afresh(spark, count_jobs, tmp_path, empty_memo):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    _scan(spark, count_jobs, path)
    pq.write_table(pa.table({"a": ["x", "y"], "b": [1.0, 2.0]}), path)
    schema, jobs = _scan(spark, count_jobs, path)
    assert jobs == 1
    assert schema == spark.read.parquet(path).schema
    assert schema.names == ["a", "b"]


def test_added_file_infers_afresh(spark, count_jobs, tmp_path, empty_memo):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "b.parquet"))
    _scan(spark, count_jobs, str(d))
    _, jobs = _scan(spark, count_jobs, str(d))
    assert jobs == 0
    pq.write_table(pa.table({"a": [3], "c": ["z"]}), str(d / "a.parquet"))
    schema, jobs = _scan(spark, count_jobs, str(d))
    assert jobs == 1
    assert schema == spark.read.parquet(str(d)).schema
    # a multi-file set is not memoized: each scan infers
    _, jobs = _scan(spark, count_jobs, str(d))
    assert jobs == 1


def test_inference_conf_change_infers_afresh(spark, count_jobs, tmp_path, empty_memo):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"s": pa.array([b"ab", b"cd"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    schema, _ = _scan(spark, count_jobs, path)
    assert schema["s"].dataType.typeName() == "binary"
    try:
        spark.conf.set(key, "true")
        schema, jobs = _scan(spark, count_jobs, path)
        assert jobs == 1
        assert schema == spark.read.parquet(path).schema
        assert schema["s"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, before)
    schema, jobs = _scan(spark, count_jobs, path)
    assert jobs == 0 and schema["s"].dataType.typeName() == "binary"


def test_timestamp_type_change_infers_afresh(spark, count_jobs, tmp_path, empty_memo):
    # a timestamp-valued hive partition column is inferred as the session's
    # spark.sql.timestampType
    part = tmp_path / "hive" / "t=2024-01-02 03%3A04%3A05"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"v": [1]}), str(part / "d.parquet"))
    path = str(tmp_path / "hive")
    key = "spark.sql.timestampType"
    before = spark.conf.get(key)
    schema, _ = _scan(spark, count_jobs, path)
    assert schema["t"].dataType.typeName() == "timestamp"
    try:
        spark.conf.set(key, "TIMESTAMP_NTZ")
        schema, jobs = _scan(spark, count_jobs, path)
        assert jobs == 1
        assert schema == spark.read.parquet(path).schema
        assert schema["t"].dataType.typeName() == "timestamp_ntz"
    finally:
        spark.conf.set(key, before)
    schema, jobs = _scan(spark, count_jobs, path)
    assert jobs == 0 and schema["t"].dataType.typeName() == "timestamp"


def test_non_local_missing_and_multi_file_paths_are_not_memoized(tmp_path):
    (tmp_path / "d").mkdir()
    local = str(tmp_path / "d" / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), local)
    pq.write_table(pa.table({"a": [2]}), str(tmp_path / "d" / "u.parquet"))
    assert io._snapshot(io._parquet_files("file://" + local)) == \
        io._snapshot(io._parquet_files(local)) is not None
    for path in ("s3a://bucket/t.parquet", "hdfs://nn:8020/t.parquet",
                 str(tmp_path / "missing.parquet"), str(tmp_path / "*.csv"),
                 str(tmp_path / "{a,b}.parquet"), str(tmp_path / "d")):
        assert io._snapshot(io._parquet_files(path)) is None, path


def test_events_stream_reads_nanos_ts_as_timestamp(spark, tmp_path, monkeypatch):
    # the streaming events frame probes the same footer as scan_parquet: a
    # TIMESTAMP(NANOS) ts must arrive as a timestamp, whether or not an
    # earlier scan already set nanosAsLong
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    pq.write_table(pa.table({
        "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
        "event_type": ["click"], "user_id": [7], "value": [1.5]}),
        str(tmp_path / "events.parquet"))
    monkeypatch.delenv("SPARK_GRAFT_STREAM_FILES", raising=False)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            lf, _ = entry._events_stream(spark, str(tmp_path))
            assert lf._sdf.schema["ts"].dataType == T.TimestampType(), value
    finally:
        spark.conf.set(key, before)
