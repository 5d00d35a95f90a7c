"""Streaming medallion tests: stream-batch equivalence + incremental resume.

The oracle for the whole MA pipeline (SURVEY.md §5.2.3): running the
medallion as streams over a bounded input must produce exactly what
the batch composition of the same pure functions produces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_books_review_spark.plans.books_pipeline import (
    clean_books_details,
    clean_books_ratings,
    gold_users_count,
    silver_books_reviews,
)
from amazon_books_review_spark.sources.io import delta_available
from amazon_books_review_spark.streaming.medallion import (
    MedallionPaths,
    run_streaming_medallion,
)
from tests.fixtures import details_df, ratings_df


def _rows(df, cols=None):
    if cols:
        df = df.select(*cols)
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def cleaned_inputs(spark, tmp_path):
    """Cleaned details/reviews written as parquet 'landing zones'."""
    details = clean_books_details(details_df(spark))
    ratings = clean_books_ratings(ratings_df(spark))
    d_path, r_path = str(tmp_path / "details_in"), str(tmp_path / "reviews_in")
    details.write.mode("overwrite").parquet(d_path)
    ratings.write.mode("overwrite").parquet(r_path)
    return details, ratings, d_path, r_path


def test_normalize_event_time_handles_both_physical_shapes(spark):
    """The driver testdata has shipped events.ts as TIMESTAMP(NANOS)
    (read as nanos BIGINT under nanosAsLong) and later as
    timestamp[us]-without-tz (read as TIMESTAMP_NTZ, which
    withWatermark rejects).  normalize_event_time must map BOTH to
    TimestampType with identical instants — this is the regression
    test for the round-5 environment drift."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    from amazon_books_review_spark.sources.io import normalize_event_time

    epoch_us = 1_600_000_000_000_000  # 2020-09-13T12:26:40Z
    as_bigint = spark.createDataFrame(
        [(1, epoch_us * 1000)],
        StructType([StructField("id", LongType()), StructField("ts", LongType())]),
    )
    import datetime

    naive = datetime.datetime(2020, 9, 13, 12, 26, 40)
    as_ntz = spark.createDataFrame(
        [(1, naive)],
        StructType(
            [StructField("id", LongType()), StructField("ts", TimestampNTZType())]
        ),
    )
    out_a = normalize_event_time(as_bigint)
    out_b = normalize_event_time(as_ntz)
    assert dict(out_a.dtypes)["ts"] == "timestamp"
    assert dict(out_b.dtypes)["ts"] == "timestamp"
    # under the pinned UTC session both shapes decode to the same instant
    va = out_a.select(F.unix_timestamp("ts")).first()[0]
    vb = out_b.select(F.unix_timestamp("ts")).first()[0]
    assert va == vb == epoch_us // 1_000_000
    # already-normalized and ts-less frames pass through untouched
    assert normalize_event_time(out_b) is out_b or dict(
        normalize_event_time(out_b).dtypes
    )["ts"] == "timestamp"
    no_ts = spark.createDataFrame([(1,)], "id long")
    assert dict(normalize_event_time(no_ts).dtypes) == {"id": "bigint"}
    # and watermarking the normalized frame is legal (the exact API
    # that rejected NTZ)
    out_b.withWatermark("ts", "1 hour")


FORMATS = ["parquet"] + (["delta"] if delta_available() else [])


@pytest.mark.parametrize("fmt", FORMATS)
@pytest.mark.parametrize("fidelity", [True, False])
def test_streaming_medallion_equals_batch(
    spark, tmp_path, cleaned_inputs, fidelity, fmt
):
    """Identical gold across table formats: the medallion is
    format-generic (parquet always; delta — the reference's actual
    sink, MA:34-39 — whenever delta-spark is importable)."""
    details, ratings, d_path, r_path = cleaned_inputs
    paths = MedallionPaths(
        d_path, r_path, str(tmp_path / f"medallion_{fidelity}_{fmt}")
    )
    out = run_streaming_medallion(spark, paths, fidelity=fidelity, fmt=fmt)

    batch_silver = silver_books_reviews(details, ratings, fidelity=fidelity)
    batch_gold = gold_users_count(batch_silver)

    assert _rows(out["bronze_details"]) == _rows(details)
    assert _rows(out["bronze_reviews"]) == _rows(ratings)
    assert _rows(out["silver"]) == _rows(batch_silver)
    assert _rows(out["gold"]) == _rows(batch_gold)


@pytest.mark.parametrize("fidelity", [True, False])
def test_streaming_medallion_salted_equals_unsalted(
    spark, tmp_path, cleaned_inputs, fidelity
):
    """VERDICT r7 #8: the medallion with the skew-hardened silver join
    (hot-Title salt scatter, SURVEY §4.2 #3) must be row-identical to
    the unsalted pipeline end-to-end — in the fidelity stream-stream
    form the salt spreads the hot title's join state across
    state-store partitions; the result set must not notice."""
    details, ratings, d_path, r_path = cleaned_inputs
    paths = MedallionPaths(
        d_path, r_path, str(tmp_path / f"medallion_salted_{fidelity}")
    )
    out = run_streaming_medallion(spark, paths, fidelity=fidelity, salts=4)

    batch_silver = silver_books_reviews(details, ratings, fidelity=fidelity)
    batch_gold = gold_users_count(batch_silver)

    assert _rows(out["silver"]) == _rows(batch_silver)
    assert _rows(out["gold"]) == _rows(batch_gold)
    # the salt is an internal key transform — it must not leak a column
    assert "_salt" not in out["silver"].columns


def test_salted_silver_join_batch_equivalence(spark, cleaned_inputs):
    """The salt transform itself (batch inputs): row-identical to the
    plain join at several fan-outs."""
    details, ratings, _, _ = cleaned_inputs
    base = _rows(silver_books_reviews(details, ratings, fidelity=False))
    for salts in (2, 4, 7):
        assert _rows(
            silver_books_reviews(details, ratings, fidelity=False, salts=salts)
        ) == base


def test_multi_batch_stream_equals_batch(spark, tmp_path, cleaned_inputs):
    """maxFilesPerTrigger=1 over a multi-file input => several real
    micro-batches; the drained result must still equal the batch
    computation (determinism across batch boundaries)."""
    details, ratings, d_path, r_path = cleaned_inputs
    # split reviews into 3 files so the stream sees 3 micro-batches
    r_multi = str(tmp_path / "reviews_multi")
    ratings.repartition(3).write.mode("overwrite").parquet(r_multi)
    paths = MedallionPaths(d_path, r_multi, str(tmp_path / "medallion_mb"))
    out = run_streaming_medallion(spark, paths, max_files_per_trigger=1)
    batch_gold = gold_users_count(silver_books_reviews(details, ratings))
    assert _rows(out["gold"]) == _rows(batch_gold)


def test_update_mode_upsert_sink(spark, tmp_path):
    """Watermark + update-mode upsert: per-batch output is only the
    changed keys, and after two incremental drains the target equals
    the batch aggregate of all input (ST3-ST5 improved design)."""
    from pyspark.sql import Row

    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream_update_upsert,
    )

    src = str(tmp_path / "events_src")
    target = str(tmp_path / "upsert_target")
    ckpt = str(tmp_path / "upsert_ckpt")

    def rows(pairs):
        return [Row(user_id=u, epoch_s=t) for u, t in pairs]

    batch1 = spark.createDataFrame(rows([(1, 100), (1, 200), (2, 100)]))
    batch1.write.mode("append").parquet(src)

    def drain():
        stream = read_stream_parquet(spark, src, batch1.schema)
        agg = (
            stream.withColumn("ts", F.timestamp_seconds("epoch_s"))
            .withWatermark("ts", "10 days")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = write_stream_update_upsert(
            agg, target, ckpt, keys=["user_id"], query_name="upsert_test"
        )
        q.awaitTermination()

    drain()
    got1 = {r.user_id: r.n for r in spark.read.parquet(target).collect()}
    assert got1 == {1: 2, 2: 1}

    # incremental drop: user 1 gets another event, user 3 appears
    spark.createDataFrame(rows([(1, 300), (3, 50)])).write.mode("append").parquet(src)
    drain()
    got2 = {r.user_id: r.n for r in spark.read.parquet(target).collect()}
    assert got2 == {1: 3, 2: 1, 3: 1}


@pytest.mark.skipif(not delta_available(), reason="delta-spark not installed")
def test_update_mode_upsert_sink_delta(spark, tmp_path):
    """Same upsert contract on the Delta MERGE INTO path."""
    from pyspark.sql import Row

    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream_update_upsert,
    )

    src = str(tmp_path / "events_src")
    target = str(tmp_path / "upsert_delta")
    ckpt = str(tmp_path / "upsert_delta_ckpt")
    batch1 = spark.createDataFrame(
        [Row(user_id=u, epoch_s=t) for u, t in [(1, 100), (1, 200), (2, 100)]]
    )
    batch1.write.mode("append").parquet(src)

    def drain():
        stream = read_stream_parquet(spark, src, batch1.schema)
        agg = (
            stream.withColumn("ts", F.timestamp_seconds("epoch_s"))
            .withWatermark("ts", "10 days")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        write_stream_update_upsert(
            agg, target, ckpt, keys=["user_id"], fmt="delta"
        ).awaitTermination()

    drain()
    spark.createDataFrame(
        [Row(user_id=u, epoch_s=t) for u, t in [(1, 300), (3, 50)]]
    ).write.mode("append").parquet(src)
    drain()
    got = {
        r.user_id: r.n
        for r in spark.read.format("delta").load(target).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1}


def test_schema_drift_added_column_is_ignored(spark, tmp_path):
    """Auto Loader's ``cloudFiles.schemaLocation`` (MA:12) tracks an
    EVOLVING schema; this engine's deliberate stance is an explicit,
    fixed stream schema.  A new column appearing mid-stream is
    therefore IGNORED (the parquet reader projects only declared
    columns) and the stream keeps running — drift never silently
    changes downstream schemas.  Evolution is an operator decision:
    re-declare the schema and restart with the same checkpoint."""
    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream,
    )

    src = str(tmp_path / "drift_src")
    sink = str(tmp_path / "drift_sink")
    ckpt = str(tmp_path / "drift_ckpt")
    declared = "id long, v string"
    spark.createDataFrame([(1, "a")], declared).write.mode("append").parquet(src)

    def drain():
        stream = read_stream_parquet(
            spark, src, spark.createDataFrame([], declared).schema
        )
        write_stream(stream, sink, ckpt).awaitTermination()

    drain()
    # drift: a producer starts writing an extra column
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, extra double"
    ).write.mode("append").parquet(src)
    drain()
    out = spark.read.parquet(sink)
    assert sorted(out.columns) == ["id", "v"]
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_rocksdb_state_store_windowed_agg(spark, tmp_path):
    """The 100 TB state backend: the same watermarked aggregate runs
    (and produces identical results) under the RocksDB state-store
    provider — large state lives on local disk, not the JVM heap."""
    from pyspark.sql import Row

    from amazon_books_review_spark.session import STREAMING_SCALE_CONFS
    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream_update_upsert,
    )

    src = str(tmp_path / "rocks_src")
    target = str(tmp_path / "rocks_target")
    ckpt = str(tmp_path / "rocks_ckpt")
    data = spark.createDataFrame(
        [Row(user_id=u, epoch_s=t) for u, t in
         [(1, 100), (1, 200), (2, 100), (3, 50), (3, 60)]]
    )
    data.write.mode("append").parquet(src)

    old = {k: spark.conf.get(k, None) for k in STREAMING_SCALE_CONFS}
    for k, v in STREAMING_SCALE_CONFS.items():
        spark.conf.set(k, v)
    try:
        stream = read_stream_parquet(spark, src, data.schema)
        agg = (
            stream.withColumn("ts", F.timestamp_seconds("epoch_s"))
            .withWatermark("ts", "10 days")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        write_stream_update_upsert(
            agg, target, ckpt, keys=["user_id"]
        ).awaitTermination()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = {r.user_id: r.n for r in spark.read.parquet(target).collect()}
    assert got == {1: 2, 2: 1, 3: 2}


def test_medallion_recovers_after_partial_failure(spark, tmp_path, cleaned_inputs):
    """Crash-recovery: wipe gold (data + checkpoint) after a full run
    — as if the job died between silver and gold — and re-run.  The
    checkpointed bronze/silver stages replay nothing; gold rebuilds
    from the silver table; the result is identical."""
    import shutil

    details, ratings, d_path, r_path = cleaned_inputs
    paths = MedallionPaths(d_path, r_path, str(tmp_path / "medallion_crash"))
    first = run_streaming_medallion(spark, paths)
    want = _rows(first["gold"])

    shutil.rmtree(paths.gold)
    shutil.rmtree(paths.checkpoint("gold"))
    second = run_streaming_medallion(spark, paths)
    assert _rows(second["gold"]) == want


def test_transform_with_state_running_totals(spark):
    """Second-gen stateful API == batch aggregate over a bounded
    drain (runs only where python protobuf exists)."""
    from amazon_books_review_spark.streaming.queries import (
        streaming_running_totals_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs python protobuf")
    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.v_cents)
        for r in streaming_running_totals_tws(spark, sf).collect()
    }
    from amazon_books_review_spark.sources.io import load_table

    want = {
        r.user_id: (r.n, r.cents)
        for r in load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_streaming_medallion_incremental_resume(spark, tmp_path, cleaned_inputs):
    """Re-running with NEW files processes only the increment
    (checkpointed offsets), and gold reflects the union — the
    reference's incremental Auto Loader behavior (MA:9-14)."""
    details, ratings, d_path, r_path = cleaned_inputs
    paths = MedallionPaths(d_path, r_path, str(tmp_path / "medallion_inc"))
    first = run_streaming_medallion(spark, paths)
    n_first = first["silver"].count()

    # Drop a new reviews file: one more post-2010 review of Old Tome.
    new_review = ratings.filter(F.col("Id") == "B3").withColumn(
        "Id", F.lit("B3b")
    ).withColumn("User_id", F.lit("U99"))
    new_review.write.mode("append").parquet(r_path)

    second = run_streaming_medallion(spark, paths)
    assert second["silver"].count() == n_first + 1
    gold = {
        (r.Title, r.categories): r.users_count
        for r in second["gold"].collect()
    }
    assert gold[("Old Tome", "History")] == 2  # B3 + B3b


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """ST5 hard evidence: an event arriving AFTER the watermark passed
    its (already-finalized) window is dropped — the append-mode sink
    shows the window exactly once, with the on-time count only.

    Two sequential drains against one checkpoint: the first advances
    the watermark past window W and emits W; the second feeds a late
    event inside W plus a fresh event.  A broken watermark would
    re-emit W (duplicate row) or inflate its count.
    """
    from pyspark.sql import Row

    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream,
    )

    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")

    def rows(*epoch_s):
        return spark.createDataFrame([Row(epoch_s=e) for e in epoch_s])

    base = 1_700_000_400  # fixed epoch anchor, multiple of the window size

    def drain():
        stream = read_stream_parquet(
            spark, src, rows(0).schema
        )
        agg = (
            stream.withColumn("ts", F.timestamp_seconds("epoch_s"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("long").alias("start_s"), "n")
        )
        write_stream(agg, sink, ckpt, output_mode="append").awaitTermination()

    # drain 1: two on-time events in window W=[base, base+300), plus one
    # an hour later -> watermark = base+3600-600, W finalizes with n=2
    rows(base + 10, base + 20, base + 3600).write.mode("append").parquet(src)
    drain()
    first = {r.start_s: r.n for r in spark.read.parquet(sink).collect()}
    assert first.get(base) == 2

    # drain 2: a LATE event inside W (far below the persisted watermark)
    # and a fresh one two hours out (closes the +3600 window too)
    rows(base + 30, base + 7200).write.mode("append").parquet(src)
    drain()
    out = spark.read.parquet(sink).collect()
    got = {}
    for r in out:
        assert r.start_s not in got, f"window {r.start_s} emitted twice"
        got[r.start_s] = r.n
    assert got[base] == 2, "late event leaked into the finalized window"
    assert got[base + 3600] == 1


def test_salted_stream_stream_join_equals_unsalted(spark):
    """Skew hardening (r6 verdict stretch #9): the salted watermarked
    join must emit the exact row set of the unsalted one, and the
    deterministic salt must actually SCATTER a hot key's purchase
    rows across multiple sub-keys (the state-partition spread the
    variant exists for)."""
    from amazon_books_review_spark.streaming.queries import (
        STREAM_JOIN_SALTS,
        streaming_stream_stream_join,
        streaming_stream_stream_join_salted,
    )

    sf = "/root/testdata/sf0.001"
    plain = {
        (r.purchase_id, r.view_id, r.user_id)
        for r in streaming_stream_stream_join(spark, sf).collect()
    }
    salted = {
        (r.purchase_id, r.view_id, r.user_id)
        for r in streaming_stream_stream_join_salted(spark, sf).collect()
    }
    assert salted == plain and len(plain) > 0

    # scatter: the busiest user's purchases spread over >1 salt bucket
    from amazon_books_review_spark.sources.io import load_table

    purchases = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.pmod(F.hash("event_id"), F.lit(STREAM_JOIN_SALTS)).alias("salt"),
        )
    )
    hot = (
        purchases.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("salt").alias("k"))
        .orderBy(F.col("n").desc())
        .first()
    )
    assert hot.n >= STREAM_JOIN_SALTS, "testdata too small for the scatter check"
    assert hot.k > 1, "hot user's purchases all landed on one salt"


def test_streaming_incremental_rollup_matches_batch(spark):
    """Stream-batch equivalence for the IVM stream: after draining the
    4-file feed one micro-batch at a time, the latest versioned rollup
    snapshot must equal the batch rollup over all orders."""
    from amazon_books_review_spark.streaming.queries import (
        streaming_incremental_rollup,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_incremental_rollup(spark, sf)
    import pyspark.sql.functions as F

    expected = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_stream_stream_left_outer_join_emits_nulls_on_eviction(spark, tmp_path):
    """ST4 outer-join semantics: a LEFT OUTER watermarked stream-stream
    join emits the null-padded left row only once the watermark proves
    no right match can still arrive — and left rows whose join window
    the final watermark has NOT passed are withheld, not fabricated.

    Two sequential drains against one checkpoint: drain 1 feeds a
    matched pair plus an unmatched left row, with the watermark held
    low — the match emits, the null-pad must NOT (its window is still
    open).  Drain 2 feeds only a far-future left row, pushing the
    watermark past the unmatched row's window — the null-pad emits
    exactly once, and the far-future row itself stays withheld.
    """
    from pyspark.sql import Row

    from amazon_books_review_spark.sources.io import (
        read_stream_parquet,
        write_stream,
    )

    lsrc = str(tmp_path / "lsrc")
    rsrc = str(tmp_path / "rsrc")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = 1_700_000_400

    def lrows(*pairs):
        return spark.createDataFrame(
            [Row(lid=i, k=k, lts_s=t) for i, (k, t) in enumerate(pairs, 1)]
        )

    def rrows(*pairs):
        return spark.createDataFrame(
            [Row(rid=i, rk=k, rts_s=t) for i, (k, t) in enumerate(pairs, 1)]
        )

    def drain():
        left = (
            read_stream_parquet(spark, lsrc, lrows(("a", 0)).schema)
            .withColumn("lts", F.timestamp_seconds("lts_s"))
            .withWatermark("lts", "10 minutes")
        )
        right = (
            read_stream_parquet(spark, rsrc, rrows(("a", 0)).schema)
            .withColumn("rts", F.timestamp_seconds("rts_s"))
            .withWatermark("rts", "10 minutes")
        )
        joined = left.join(
            right,
            (F.col("k") == F.col("rk"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
            "left_outer",
        ).select("lid", "k", "rid")
        write_stream(joined, sink, ckpt, query_name="ss_left_outer").awaitTermination()

    # drain 1: left "a" matches right "a"; left "b" has no right row.
    # Max event time = base+60 -> watermark stays below b's window end,
    # so b's null-pad is withheld.
    lrows(("a", base), ("b", base)).write.mode("append").parquet(lsrc)
    rrows(("a", base + 60)).write.mode("append").parquet(rsrc)
    drain()
    first = {(r.lid, r.k): r.rid for r in spark.read.parquet(sink).collect()}
    assert first == {(1, "a"): 1}, f"expected only the matched pair, got {first}"

    # drain 2: far-future rows on BOTH sides advance the watermark an
    # hour, past b's [base, base+300) window, so b emits null-padded.
    # Both sides matter — the global watermark is the MIN across
    # watermark nodes (multipleWatermarkPolicy=min), so a side that
    # never sees data pins outer-state eviction forever.  That is the
    # 100 TB operational trap this test documents: a stalled upstream
    # freezes null-emission on the OTHER stream too.
    lrows(("c", base + 3600)).write.mode("append").parquet(lsrc)
    rrows(("z", base + 3600)).write.mode("append").parquet(rsrc)
    drain()
    second = {(r.lid, r.k): r.rid for r in spark.read.parquet(sink).collect()}
    assert second == {(1, "a"): 1, (2, "b"): None}, f"got {second}"

    # drain 3: another hour on both sides closes c's window; d/z2 are
    # withheld (their windows are still open under the final watermark).
    lrows(("d", base + 7200)).write.mode("append").parquet(lsrc)
    rrows(("z2", base + 7200)).write.mode("append").parquet(rsrc)
    drain()
    rows = spark.read.parquet(sink).collect()
    got = {}
    for r in rows:
        key = (r.lid, r.k)
        assert key not in got, f"{key} emitted twice"
        got[key] = r.rid
    assert got == {(1, "a"): 1, (2, "b"): None, (1, "c"): None}, f"got {got}"


def test_state_partitions_follow_the_host(spark):
    """Stateful streams start with no more state partitions than the
    host has slots (8 at most), and the batch value comes back."""
    from amazon_books_review_spark.streaming.queries import _state_partitions

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    with _state_partitions(spark):
        assert spark.conf.get(conf) == str(
            min(8, spark.sparkContext.defaultParallelism)
        )
    assert spark.conf.get(conf) == before
