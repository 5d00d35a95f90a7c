"""sources/io.read_parquet's schema cache and table_row_count's footer
cache: a cached value is served only while the path's files, and the
session confs that shape inference, are unchanged.  The rewrite, conf
and fall-through tests would fail against a cache keyed on the path
alone."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
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
