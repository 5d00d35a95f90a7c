"""sources/io.read_parquet's schema cache and table_row_count's footer
cache: a cached value is served only while the path's files, and the
session confs that shape inference, are unchanged.  The rewrite, conf
and fall-through tests would fail against a cache keyed on the path
alone.  write_parquet seeds the cache with what inference would
return, or nothing."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from amazon_books_review_spark.sources import io as sio

SF = "/root/testdata/sf0.001"


def _columns(df) -> list[str]:
    return [f.name for f in df.schema.fields]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_hit_launches_no_job_and_keeps_rows(spark):
    path = os.path.join(SF, "region.parquet")
    miss = sio.read_parquet(spark, path)
    first = _next_job_id(spark)
    hit = sio.read_parquet(spark, path)
    assert _next_job_id(spark) == first
    assert hit.schema == miss.schema
    assert sorted(hit.collect()) == sorted(miss.collect())


def test_self_join_of_two_reads_resolves(spark):
    """The cache hands out schemas, not DataFrames: two reads of one
    table are distinct plans, so a self-join's columns stay
    unambiguous."""
    a = sio.load_table(spark, SF, "nation")
    b = sio.load_table(spark, SF, "nation")
    joined = a.join(b, a.n_regionkey == b.n_nationkey).select(a.n_name, b.n_name)
    assert joined.count() == 25  # each nation joins its region number


def test_spark_overwrite_with_new_column_reinfers(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert _columns(sio.read_parquet(spark, path)) == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    df = sio.read_parquet(spark, path)
    assert _columns(df) == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4]


def test_in_place_pyarrow_rewrite_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _columns(sio.read_parquet(spark, path)) == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = sio.read_parquet(spark, path)
    assert _columns(df) == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_timestamp_ntz_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}), path
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(sio.read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(key, "false")
        assert dict(sio.read_parquet(spark, path).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(key, old)


def test_event_time_normalizes_on_miss_and_hit(spark, tmp_path):
    """``events.ts`` rewritten in place as the testdata
    ``timestamp[us]`` (TIMESTAMP_NTZ), as pyarrow ``timestamp[ns]`` (a
    nanos BIGINT under nanosAsLong) and back comes out of
    ``load_table`` as TimestampType with the testdata rows, on the
    miss read and on the hit read of each shape."""
    events = pq.read_table(os.path.join(SF, "events.parquet"))
    i = events.schema.get_field_index("ts")
    expected = sorted(sio.load_table(spark, SF, "events").collect())
    for unit in ("us", "ns", "us"):
        shaped = events.set_column(i, "ts", events["ts"].cast(pa.timestamp(unit)))
        pq.write_table(shaped, str(tmp_path / "events.parquet"))
        for _ in range(2):
            df = sio.load_table(spark, str(tmp_path), "events")
            assert isinstance(df.schema["ts"].dataType, TimestampType), unit
            assert sorted(df.collect()) == expected, unit


def test_hive_partitioned_dir_falls_through(spark, tmp_path):
    """A partitioned table's files sit in subdirectories the flat
    fingerprint cannot see, so every read infers: a column added to
    a partition file in place shows up."""
    part = tmp_path / "t" / "p=1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), str(part / "f.parquet"))
    path = str(tmp_path / "t")
    assert sio.file_fingerprint(path) is None
    assert _columns(sio.read_parquet(spark, path)) == ["a", "p"]
    pq.write_table(pa.table({"a": [1], "b": [2]}), str(part / "f.parquet"))
    assert _columns(sio.read_parquet(spark, path)) == ["a", "b", "p"]


class _Recorder:
    """Stands in for a SparkSession: records which reader calls a
    ``read_parquet`` makes, without touching any filesystem."""

    def __init__(self) -> None:
        self.calls: list[str] = []
        self.read = self

    def schema(self, _schema):
        self.calls.append("schema")
        return self

    def parquet(self, path):
        self.calls.append("parquet")
        return path


def test_remote_scheme_falls_through():
    path = "s3a://bucket/warehouse/orders.parquet"
    assert sio.file_fingerprint(path) is None
    fake = _Recorder()
    for _ in range(2):
        assert sio.read_parquet(fake, path) == path
    assert fake.calls == ["parquet", "parquet"]


def test_table_row_count_recounts_after_rewrite(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert sio.table_row_count(str(tmp_path), "t") == 3
    pq.write_table(pa.table({"a": [1, 2, 3, 4, 5]}), path)
    assert sio.table_row_count(str(tmp_path), "t") == 5


def test_cache_evicts_least_recently_used():
    cache = sio._FingerprintCache(2)
    cache.put("a", (1,), "A")
    cache.put("b", (1,), "B")
    assert cache.get("a", (1,)) == "A"  # "b" is now least recent
    cache.put("c", (1,), "C")
    assert cache.get("b", (1,)) is None
    assert cache.get("a", (1,)) == "A" and cache.get("c", (1,)) == "C"
    assert cache.get("a", (2,)) is None  # a changed fingerprint misses


def _seeded(spark, path):
    return sio._SCHEMAS.get(sio._schema_key(spark, path), sio.file_fingerprint(path))


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_write_seeds_the_schema_inference_returns(spark, tmp_path, ntz):
    """The seeded schema is the one a fresh inference returns: every
    field, element and value nullable.  The frame's own schema (and the
    raw footer schema) keep ``nullable=False`` and would not match."""
    df = spark.range(3).select(
        "id",
        F.array(F.struct(F.col("id").alias("a"), F.lit("x").alias("b"))).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.col("id").cast("decimal(12,2)").alias("dec"),
        F.timestamp_seconds("id").alias("ts"),
        F.expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'").alias("ntz"),
    )
    path = str(tmp_path / "t")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, ntz)
        assert sio.write_parquet(df, path) == 3
        seeded = _seeded(spark, path)
        fresh = spark.read.parquet(path).schema
        assert seeded == fresh
        assert df.schema != fresh
        first = _next_job_id(spark)
        assert sio.read_parquet(spark, path).schema == fresh
        assert _next_job_id(spark) == first
    finally:
        spark.conf.set(key, old)


def test_append_counts_only_the_rows_it_wrote(spark, tmp_path):
    path = str(tmp_path / "t")
    assert sio.write_parquet(spark.range(3), path) == 3
    assert sio.write_parquet(spark.range(5), path, mode="append") == 5
    assert sio.read_parquet(spark, path).count() == 8


def test_write_beside_pyarrow_file_seeds_nothing_and_infers(spark, tmp_path):
    """A file without Spark's footer key (pyarrow wrote it) leaves the
    write's answer unknown: None, no seed, and the next read infers."""
    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(pa.table({"id": pa.array([10, 11], pa.int64())}), str(path / "a.parquet"))
    assert sio.write_parquet(spark.range(3), str(path), mode="append") is None
    assert _seeded(spark, str(path)) is None
    first = _next_job_id(spark)
    df = sio.read_parquet(spark, str(path))
    assert _next_job_id(spark) > first
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 10, 11]


def test_partitioned_write_returns_none(spark, tmp_path):
    df = spark.range(4).withColumn("k", F.col("id") % 2)
    assert sio.write_parquet(df, str(tmp_path / "t"), partition_by=["k"]) is None
