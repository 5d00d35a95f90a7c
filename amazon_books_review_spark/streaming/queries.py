"""Streaming catalog queries on the events table — oracle-checked.

Structured Streaming's correctness story here: with an
``availableNow`` trigger over a bounded input, a complete-mode
aggregate and an append-mode stream-static join both produce exactly
the batch result — so the DuckDB oracle is the BATCH SQL for the same
transformation (stream-batch equivalence, SURVEY.md §5.2.3).

Each query drains the stream into a temp parquet sink, then returns
the materialized result as a batch DataFrame for the driver to hash.
Windowed aggregation (ST6) and watermarks (ST4/ST5) are exercised by
the windowed rollup; watermark-dropping of late data is only
observable on unbounded streams and is covered in
tests/test_streaming.py instead.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.sources import fixtures
from amazon_books_review_spark.sources.io import (
    load_table,
    normalize_event_time,
    read_parquet,
    write_stream,
    write_stream_complete,
)


#: State-store partition count for the catalog's stateful streams.
#:
#: A stateful streaming operator creates one state store PER shuffle
#: partition PER stateful operator side, and every micro-batch pays a
#: per-store commit (delta file + maintenance) even for partitions that
#: hold no keys — measured locally, the stream-stream join over sf0.1
#: is 13.1s at the batch default of 32 partitions and 2.4s at 4, with
#: identical results.  Unlike batch shuffles, AQE never coalesces
#: these, and the count is frozen into the checkpoint at first start:
#: sizing it is an explicit capacity decision, not something to
#: inherit from ``spark.sql.shuffle.partitions``.  At 100 TB you size
#: it UP to keys-per-partition x throughput (hundreds-to-thousands,
#: RocksDB-backed); for the bounded availableNow correctness runs here
#: you size it DOWN so fixed commit cost doesn't dwarf the data.
#:
#: 8 is the CAP, not the value: a stream starts with
#: ``min(STATE_PARTITIONS, defaultParallelism)`` state partitions, so
#: no micro-batch runs more state-store tasks than the host has slots.
#: On a 4-core host 8 partitions meant two waves of store commits per
#: stateful batch; at 4, warm ``streaming_dedup_events`` construction
#: went from about 1.35 to 1.15 s and ``streaming_windowed_counts``
#: from about 1.0 to 0.81 s, with identical results.  Hosts with 8 or
#: more slots keep 8.
STATE_PARTITIONS = 8


@contextmanager
def _state_partitions(spark: SparkSession):
    """Pin shuffle partitions to ``min(STATE_PARTITIONS,
    defaultParallelism)`` while a stateful stream STARTS (the value is
    captured into a fresh checkpoint then; a restarted stream keeps
    its checkpoint's own value), restoring the batch setting after —
    keeps the session's batch plans at their own size."""
    n = min(STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events parquet.  ``ts`` arrives either as
    nanos BIGINT (under nanosAsLong) or as TIMESTAMP_NTZ depending on
    the testdata generation; both are normalized to TimestampType via
    sources.io.normalize_event_time — withWatermark rejects NTZ.

    Layout-agnostic (r12): ``events.parquet`` is a single FILE in the
    driver's raw drop but a DIRECTORY of part files after any Spark
    rewrite (bench's ingest re-layout, a medallion bronze, any real
    table).  The streaming file source requires a directory, so a
    directory streams directly and a bare file streams via its parent
    with a glob filter selecting just that file — the pre-r12
    glob-only form silently matched ZERO files against a directory
    layout (part-*.parquet never matches 'events.parquet') and every
    downstream drain saw an empty source.  The reader schema is the
    RAW file schema (the source must match the bytes on disk);
    normalization is a projection on top.
    """
    path = f"{sf_dir}/events.parquet"
    batch = read_parquet(spark, path)
    reader = spark.readStream.format("parquet").schema(batch.schema)
    if os.path.isdir(path):
        stream = reader.load(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return normalize_event_time(stream)


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1-ST6 — watermarked tumbling-window aggregate in complete
    mode: events per (day, event_type) with per-type value sums."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    out = fixtures.ephemeral_dir("abr_stream_gold_")
    with _state_partitions(spark):
        q = write_stream_complete(
            agg, f"{out}/data", f"{out}/ckpt", query_name="windowed_counts"
        )
        q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


def streaming_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6's third window type IN STREAMING MODE: the built-in
    ``session_window`` (gap-merged event-time windows) over the
    watermarked event stream — the same expression the batch form
    (plans/extended_queries.session_window_counts) runs, proving the
    unified API end to end.  State is bounded by the watermark: a
    session's state is dropped once the watermark passes its close.

    Oracle: the batch lag/cumsum sessionizer SQL — stream-batch
    equivalence for gap-merged windows under an availableNow drain.
    """
    from amazon_books_review_spark.plans.extended_queries import SESSION_GAP_MIN

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    out = fixtures.ephemeral_dir("abr_stream_sess_")
    with _state_partitions(spark):
        q = write_stream_complete(
            agg, f"{out}/data", f"{out}/ckpt", query_name="session_windows"
        )
        q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


STREAMING_WINDOWED_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 + J1 — append-mode stream-static equi-join: event stream
    enriched with the (static, broadcastable) customer dimension.
    Zero streaming state: the static side is re-resolved per batch."""
    stream = _events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    joined = stream.join(
        F.broadcast(customer),
        stream.user_id == customer.c_custkey,
        "inner",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "c_name",
        "c_mktsegment",
    )
    out = fixtures.ephemeral_dir("abr_stream_join_")
    q = write_stream(
        joined, f"{out}/data", f"{out}/ckpt", query_name="stream_static_join"
    )
    q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


STREAM_STATIC_JOIN_ORACLE = """
SELECT event_id, user_id, event_type, c_name, c_mktsegment
FROM events
JOIN customer ON user_id = c_custkey
"""


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 — the improved-design stream-stream join: both sides
    watermarked AND a time-range join condition, which is what lets
    Spark EVICT join state (the reference's unwatermarked silver join
    holds state forever, MA:116-121).

    Shape: purchase events joined to the same user's view events from
    the preceding hour.  State per side is bounded by
    watermark + range (1h of events), independent of stream lifetime.
    Oracle: the equivalent batch range join (availableNow over a
    bounded input emits every in-range match).
    """
    # ONE source stream, branched: a per-side readStream doubles the
    # file-source scan every micro-batch (measured ~1s/batch at sf0.1);
    # branching a single stream lets the self-join share offsets+scan.
    events = _events_stream(spark, sf_dir)
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") < F.col("purchase_ts")),
        "inner",
    ).select("purchase_id", "view_id", "user_id")
    out = fixtures.ephemeral_dir("abr_ss_join_")
    with _state_partitions(spark):
        q = write_stream(
            joined, f"{out}/data", f"{out}/ckpt", query_name="stream_stream_join"
        )
        q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


STREAM_STREAM_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id
FROM events p
JOIN events v
  ON p.event_type = 'purchase'
 AND v.event_type = 'view'
 AND v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts < p.ts
"""


#: watermark delay for the OUTER stream-stream join (both sides).
SSOJ_DELAY = "30 minutes"

#: sf_dir -> max event ts, cached alongside the staged feed so reruns
#: skip the anchor scan too (bounded scalar, deterministic per table).
_SSOJ_MAX_TS: dict[str, object] = {}


def _ssoj_staged(spark: SparkSession, sf_dir: str):
    """Stage the outer-join's source feed once per (sf_dir, process):
    the 4-column events projection written as parquet, plus the max
    event ts (the sentinel drains' watermark anchor).  The empty-table
    check stays EAGER and uncached — an empty events table must fail
    every call, not only the first (commit acf1f78)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = _SSOJ_MAX_TS.get(sf_dir)
    if max_ts is None:
        max_ts = ev.agg(F.max("ts")).first()[0]  # bounded scalar sync
        if max_ts is None:
            raise ValueError(
                "streaming_stream_stream_outer_join: events table is empty"
                " — no watermark anchor for the sentinel drains"
            )
        _SSOJ_MAX_TS[sf_dir] = max_ts
    base = fixtures.staged_input(
        fixtures.safe_tag("ssoj", sf_dir),
        lambda path: ev.write.mode("overwrite").parquet(path),
    )
    return base, max_ts


def streaming_stream_stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST4 LEFT OUTER — the watermarked stream-stream join that also
    emits NULL-padded rows for purchases with no preceding view, once
    the watermark proves no match can still arrive.  Outer results are
    eviction-driven: a null-pad lands only in a batch AFTER the global
    watermark (the MIN across both sides' watermark nodes) passes the
    left row's join window — semantics pinned row-by-row in
    tests/test_streaming.py::test_stream_stream_left_outer_join_emits_nulls_on_eviction.

    Drain protocol (what makes this hash-gateable): the events table
    is staged into a fixture dir together with the FIRST sentinel wave
    (+2h, ``user_id = -1`` so it can never join; one purchase AND one
    view, because a side that sees no data pins the MIN watermark and
    freezes eviction globally — the 100 TB stalled-upstream trap) and
    drained; the second wave (+4h) then appends and drains again.  A
    watermark is a batch-END maximum, so wave 1 riding the first drain
    changes nothing about which rows join (sentinels can't match) —
    the first drain merely ENDS with the watermark already past every
    real purchase's window, and the second drain's batch evicts and
    null-pads all of them (r19: this folds the old separate wave-1
    drain — one fewer full query start + state-store commit cycle,
    same final sink).  The sink equals the plain batch LEFT JOIN — the
    oracle.  Sentinels are filtered from the output by
    ``user_id >= 0``.

    Scale shape: identical to the inner form (state bounded by
    watermark + range per side); outer adds no state, only the
    eviction-time emit.
    """
    base, max_ts = _ssoj_staged(spark, sf_dir)
    # Per-run mutable snapshot: the sentinel waves APPEND to src, so the
    # staged base stays read-only and every run starts from the same
    # file set (hard links — O(files), no data copy).
    src = fixtures.ephemeral_dir("abr_ssoj_src_")
    out = fixtures.ephemeral_dir("abr_ssoj_out_")
    fixtures.hardlink_clone(base, src)
    schema = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    ).schema

    def drain() -> None:
        stream = (
            spark.readStream.format("parquet").schema(schema).load(src)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", SSOJ_DELAY)
        )
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("view_user"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", SSOJ_DELAY)
        )
        # Sentinels are NOT filtered here: a user_id predicate inside
        # the streaming plan pushes below the join into the purchase
        # branch, removing the sentinel BEFORE its watermark node — the
        # purchase-side watermark then stalls just under the real max
        # event time and the max-ts purchase's null-pad never emits
        # (found the hard way; the min-watermark trap again, this time
        # self-inflicted by predicate pushdown).  They are dropped on
        # the batch read-back below instead.
        joined = purchases.join(
            views,
            (F.col("user_id") == F.col("view_user"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("view_ts") < F.col("purchase_ts")),
            "left_outer",
        ).select("purchase_id", "view_id", "user_id")
        with _state_partitions(spark):
            q = write_stream(
                joined, f"{out}/data", f"{out}/ckpt", query_name="ss_outer_join"
            )
            q.awaitTermination()

    def append_wave(wave: int, hours: int) -> None:
        sent_ts = F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")
        spark.range(1).select(
            F.lit(-wave).cast("long").alias("event_id"),
            sent_ts.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("purchase").alias("event_type"),
        ).unionByName(
            spark.range(1).select(
                F.lit(-10 - wave).cast("long").alias("event_id"),
                sent_ts.alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
            )
        ).write.mode("append").parquet(src)

    append_wave(1, 2)  # rides the first drain; watermark is batch-END
    drain()
    append_wave(2, 4)
    drain()
    return read_parquet(spark, f"{out}/data").filter(F.col("user_id") >= 0)


STREAM_STREAM_OUTER_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id
FROM events p
LEFT JOIN events v
  ON v.event_type = 'view'
 AND v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts < p.ts
WHERE p.event_type = 'purchase'
"""


#: salt fan-out for the skew-hardened stream-stream join.  Sizing: the
#: hot key's state splits SALTS ways; the replicated side's state (and
#: arrival volume) multiplies by SALTS — pick the smallest value that
#: caps the hot partition, not the largest you can afford.
def stream_join_salts_for(
    hot_share: float, partitions: int, cap_ratio: float = 2.0
) -> int:
    """Salt count for a TARGET SKEW TOLERANCE — the streaming
    counterpart of ``mg_capacity`` / ``lsh_planes_for`` / ``km_k_for``
    (r14: every capacity constant in the catalog derives from its
    question-level parameter).

    An unsalted stateful join pins a key's entire state and arrival
    stream to one state-store partition, so a key holding share ``f``
    of arrivals makes that partition ~``f x partitions`` times the
    mean.  ``S = ceil(f x partitions / cap_ratio)`` is the smallest
    salt count that caps the hot partition at ``cap_ratio`` x mean —
    the operating-guide rule (PERF.md §2), now encoded.  The price is
    S x state and input on the replicated side, which is why S follows
    from the DESIGN skew tolerance, never "as big as affordable".
    """
    import math

    if not (0.0 < hot_share <= 1.0):
        raise ValueError(f"hot_share must be in (0, 1], got {hot_share}")
    if partitions <= 0 or cap_ratio <= 0:
        raise ValueError(f"bad partitions/cap_ratio {partitions}/{cap_ratio}")
    return max(1, math.ceil(hot_share * partitions / cap_ratio))


#: The catalog entry's design point: hardened against one key holding
#: up to 25% of arrivals at the test session's 32 state partitions,
#: hot partition capped at 2x the mean -> 4 salts (the same value the
#: r6-r13 constant pinned, now derived from the tolerance it buys).
STREAM_JOIN_HOT_SHARE = 0.25
STREAM_JOIN_PARTITIONS = 32
STREAM_JOIN_STATE_CAP = 2.0
STREAM_JOIN_SALTS = stream_join_salts_for(
    STREAM_JOIN_HOT_SHARE, STREAM_JOIN_PARTITIONS, STREAM_JOIN_STATE_CAP
)


def streaming_stream_stream_join_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST4 + skew hardening — the watermarked stream-stream join under
    a SALTED key (r6 verdict stretch #9).

    Why: AQE skew-join splitting does not exist for stateful
    streaming — the state store hash-partitions on the join key at
    first start and that layout is frozen into the checkpoint, so one
    hot user pins that partition's state size AND its task's CPU
    forever.  The batch remedy (``operators/joins.py:salted_join``)
    ports directly: the purchase side scatters across
    ``STREAM_JOIN_SALTS`` sub-keys via a DETERMINISTIC per-row hash
    (``rand()`` would re-roll on task retry and drop/duplicate rows —
    doubly fatal under streaming replay), the view side replicates to
    every salt, and the join key becomes (user, salt).  The hot
    user's join state now spreads over SALTS state-store partitions;
    the price is SALTS× state and input on the replicated side.

    Result set is row-identical to the unsalted join — same oracle,
    and the equivalence is pytest-pinned against
    :func:`streaming_stream_stream_join`.  Watermarks/eviction are
    unchanged: both sides still evict on their event-time watermark;
    salting touches only the key layout, never the time columns.
    """
    events = _events_stream(spark, sf_dir)
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.pmod(F.hash("event_id"), F.lit(STREAM_JOIN_SALTS)).alias("_salt"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(STREAM_JOIN_SALTS - 1))),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("view_user"))
        & (purchases["_salt"] == views["_salt"])
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") < F.col("purchase_ts")),
        "inner",
    ).select("purchase_id", "view_id", "user_id")
    out = fixtures.ephemeral_dir("abr_ss_join_salted_")
    with _state_partitions(spark):
        q = write_stream(
            joined,
            f"{out}/data",
            f"{out}/ckpt",
            query_name="stream_stream_join_salted",
        )
        q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


def streaming_schema_drift_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live schema-drift evolution under the HARD driver gate: a
    continuous-trigger file stream is running when files carrying a
    NEW column arrive; the drift poller stops it, widens the tracked
    contract, restarts from the same checkpoint, and the drained sink
    must hold every row exactly once — pre-drift rows NULL-filling
    the added column, post-drift rows carrying it.

    Determinism: the drift batch goes through the ADMISSION-GATED
    staging path (`LiveEvolvingStream(staging_dir=...)`), so no file
    can be consumed under the old contract in the race window between
    arrival and poll — the sink content is a pure function of the
    input split (even event_ids first, odd event_ids with the new
    column), which is exactly what the SQL oracle states.  Money
    rides as integer cents so the hash check is engine-exact.

    This is the Auto Loader `schemaLocation` rebuild (reference
    MA:12/53) exercised end-to-end as a catalog query, not only in
    pytest — restart counted, exactly-once audited by the oracle's
    row set.
    """
    from amazon_books_review_spark.sources.io import read_parquet_evolving
    from amazon_books_review_spark.streaming.schema_drift import (
        LiveEvolvingStream,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    root = fixtures.ephemeral_dir("abr_drift_live_")
    src, staging = f"{root}/src", f"{root}/staging"
    batch1 = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id"
    )
    batch1.coalesce(2).write.mode("append").parquet(staging)
    les = LiveEvolvingStream(
        spark,
        src,
        f"{root}/sink",
        f"{root}/ckpt",
        f"{root}/schemas",
        staging_dir=staging,
    )
    les.start()  # continuous query now live on the 2-column contract
    # mid-stream drift: odd event_ids arrive WITH the new column
    events.filter(F.col("event_id") % 2 == 1).coalesce(2).write.mode(
        "append"
    ).parquet(staging)
    drift_restarted = les.poll_once()  # stop -> widen -> restart, live
    schema = les.finish()
    assert drift_restarted and les.restarts == 1, (
        "live drift transition did not run exactly once"
    )
    return read_parquet_evolving(spark, f"{root}/sink", schema=schema)


SCHEMA_DRIFT_LIVE_ORACLE = """
SELECT event_id, user_id,
       CASE WHEN event_id % 2 = 1
            THEN CAST(round(value * 100) AS BIGINT) END AS v_cents
FROM events
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 + A4 — streaming exactly-once repair for an at-least-once
    source: the event stream is unioned with itself (every event
    delivered twice, the classic redelivery shape) and
    ``dropDuplicatesWithinWatermark("event_id")`` restores one row
    per event.

    The watermark-bounded form is the 100 TB-safe dedup: plain
    streaming ``dropDuplicates`` keeps every key in state forever,
    while this evicts a key's state once the watermark passes its
    event time — state is O(redelivery window), not O(stream
    lifetime).  Oracle: the batch distinct (event_id is unique in the
    source, so dedup must reproduce the input exactly).
    """
    events = _events_stream(spark, sf_dir)  # one source, unioned with itself
    doubled = events.unionByName(events)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )
    out = fixtures.ephemeral_dir("abr_stream_dedup_")
    with _state_partitions(spark):
        q = write_stream(
            deduped, f"{out}/data", f"{out}/ckpt", query_name="stream_dedup"
        )
        q.awaitTermination()
    return read_parquet(spark, f"{out}/data")


STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
"""


def tws_available() -> bool:
    """transformWithStateInPandas serializes state via the Python
    ``protobuf`` package; gate on it being importable (it is not in
    every runtime — this container lacks it)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_running_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's second-generation stateful API
    (``transformWithStateInPandas``): a per-user running aggregate
    held in typed ValueState, emitted in update mode per micro-batch.
    Requires (and demonstrates) the RocksDB state-store provider —
    the documented backend for large state (session.py
    STREAMING_SCALE_CONFS).

    Determinism: values are 2-decimal money, accumulated as integer
    CENTS (exact, order-independent) — a float running sum would
    drift from the oracle's sequential sum in the last ulp.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from amazon_books_review_spark.session import STREAMING_SCALE_CONFS
    from amazon_books_review_spark.sources.io import write_stream_update_upsert

    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("v_cents", LongType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            n, cents = (0, 0)
            if self._totals.exists():
                n, cents = self._totals.get()
            for pdf in rows:
                n += len(pdf)
                cents += int(np.rint(pdf["value"].values * 100).astype("int64").sum())
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "v_cents": [cents]}
            )

        def close(self) -> None:
            pass

    old = {k: spark.conf.get(k, None) for k in STREAMING_SCALE_CONFS}
    for k, v in STREAMING_SCALE_CONFS.items():
        spark.conf.set(k, v)
    try:
        stream = _events_stream(spark, sf_dir).select("user_id", "value")
        totals = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        out = fixtures.ephemeral_dir("abr_tws_")
        with _state_partitions(spark):
            q = write_stream_update_upsert(
                totals, f"{out}/data", f"{out}/ckpt",
                keys=["user_id"], query_name="running_totals_tws",
            )
            q.awaitTermination()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return read_parquet(spark, f"{out}/data")


RUNNING_TOTALS_TWS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
FROM events
GROUP BY user_id
"""


# Stream-batch equivalence: the streaming session_window's oracle IS
# the batch sessionizer's SQL (same gap, same half-open semantics).
from amazon_books_review_spark.plans.extended_queries import (  # noqa: E402
    SESSION_WINDOW_ORACLE as SESSION_WINDOW_STREAM_ORACLE,
)

#: streaming Misra-Gries capacity — sized so the recall floor
#: N/(cap+1) sits BELOW the hottest user's share at the test SFs
#: (top user ~0.86% of events; 1/128 = 0.78%), so the output is
#: non-degenerate while the sketch still evicts.
STREAM_HH_CAP = 127


def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a STREAM: per-micro-batch Misra-Gries
    candidates folded into a persisted candidate log via
    ``foreachBatch``, then one exact recount — the streaming form of
    the two-pass batch operator (plans/scale_ops_queries.py:106).

    Why the union of per-batch candidates suffices (pigeonhole over
    micro-batch totals, same argument as over partitions): a key with
    global count > N/(cap+1) must exceed B_i/(cap+1) in at least one
    batch i, so it survives that batch's sketch.  The exact recount
    then makes the OUTPUT deterministic regardless of how the stream
    was batched — which is what lets a plain-SQL oracle check a
    stateful streaming sketch.

    The feed is re-sharded into 4 files drained with
    ``maxFilesPerTrigger=1``, so the fold genuinely crosses
    micro-batch boundaries.  At 100 TB the candidate log stays
    O(cap x batches) rows — the recount is the only full pass, and it
    is a broadcast-semi-join-filtered partial agg, never a full
    histogram shuffle.
    """
    import pandas as pd
    from collections.abc import Iterator

    out = fixtures.ephemeral_dir("abr_stream_hh_")
    cand_dir, ckpt = f"{out}/cands", f"{out}/ckpt"
    # The 4-file feed is READ-ONLY during the drain (candidates land in
    # cand_dir, checkpoints in ckpt) — staged once per process so the
    # timed region is the sketch fold + recount, not fixture I/O.
    feed = _hh_feed(spark, sf_dir)

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["word"].value_counts()
            acc = acc.add(vc, fill_value=0).astype("int64")
            if len(acc) > STREAM_HH_CAP:
                thresh = acc.nlargest(STREAM_HH_CAP + 1).iloc[-1]
                acc = acc - thresh
                acc = acc[acc > 0]
        yield pd.DataFrame({"word": acc.index.astype(str)})

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        (
            batch_df.select(F.col("user_id").cast("string").alias("word"))
            .mapInPandas(mg, "word string")
            .distinct()
            .write.mode("append")
            .parquet(cand_dir)
        )

    stream = (
        spark.readStream.schema(read_parquet(spark, feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName("streaming_heavy_hitters")
            .start()
        )
        q.awaitTermination()

    cands = (
        spark.read.parquet(cand_dir)
        .distinct()
        .select(F.col("word").cast("long").alias("user_id"))
    )
    feed_df = read_parquet(spark, feed)
    counts = (
        feed_df.join(F.broadcast(cands), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = feed_df.agg(F.count(F.lit(1)).alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") * (STREAM_HH_CAP + 1) > F.col("tot"))
        .select("user_id", "n")
    )


STREAM_HH_ORACLE = f"""
SELECT user_id, count(*) AS n
FROM events
GROUP BY user_id
HAVING count(*) * {STREAM_HH_CAP + 1} > (SELECT count(*) FROM events)
"""


def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INCREMENTAL VIEW MAINTENANCE: a per-customer order
    rollup maintained across micro-batches — each batch aggregates
    only its own rows (the delta) and merges into the previous rollup
    SNAPSHOT, committed as a new ``VersionedTable`` version.  The base
    order stream is never rescanned; by the drain's end the table
    holds one version per micro-batch and the latest equals the batch
    rollup over all orders (the oracle).

    Exactly-once: ``foreachBatch`` may re-deliver a batch after a
    failure, so the fold is IDEMPOTENT — a batch whose ``note`` is
    already in the version history is skipped (the versioned commit
    acts as the transaction marker, the same pattern Delta's
    ``txnAppId/txnVersion`` sink options implement).

    Scale shape: per batch one delta aggregate (batch-sized) + one
    customer-grain full-outer merge against the prior snapshot — the
    streaming twin of the batch ``incremental_agg_orders``; at 100 TB
    the snapshot is the stored materialization and the merge cost
    follows the TOUCHED customer count, not the base size.
    """
    from amazon_books_review_spark.sources.versioned import (
        VersionedTable,
        VersionNotFoundError,
    )

    out = fixtures.ephemeral_dir("abr_stream_ivm_")
    ckpt = f"{out}/ckpt"
    # Read-only 4-file feed, staged once per process (VERDICT r10 #2);
    # the versioned rollup + checkpoint stay per-run.
    feed = _ivm_feed(spark, sf_dir)
    vt = VersionedTable(f"{out}/rollup")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        note = f"batch={batch_id}"
        if any(h.get("note") == note for h in vt.history()):
            return  # replayed batch — already committed
        delta = batch_df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
        try:
            prev = vt.read(spark)
        except VersionNotFoundError:
            merged = delta
        else:
            p = prev.select(
                "o_custkey",
                F.col("n_orders").alias("p_n"),
                F.col("total_cents").alias("p_c"),
            )
            merged = p.join(delta, "o_custkey", "full_outer").select(
                "o_custkey",
                (F.coalesce("p_n", F.lit(0)) + F.coalesce("n_orders", F.lit(0))).alias(
                    "n_orders"
                ),
                (F.coalesce("p_c", F.lit(0)) + F.coalesce("total_cents", F.lit(0))).alias(
                    "total_cents"
                ),
            )
        vt.write(merged, note=note)

    stream = (
        spark.readStream.schema(read_parquet(spark, feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName("streaming_incremental_rollup")
            .start()
        )
        q.awaitTermination()
    return vt.read(spark).select("o_custkey", "n_orders", "total_cents")


STREAM_IVM_ORACLE = """
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_custkey
"""


def _hh_feed(spark: SparkSession, sf_dir: str) -> str:
    """Process-staged 4-file feed for the streaming heavy-hitters
    drain (re-sharded so maxFilesPerTrigger=1 yields real batches)."""
    events = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    return fixtures.staged_input(
        fixtures.safe_tag("hhfeed", sf_dir),
        lambda path: events.repartition(4).write.mode("overwrite").parquet(path),
    )


def _ivm_feed(spark: SparkSession, sf_dir: str) -> str:
    """Process-staged 4-file order feed for the incremental rollup."""
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    return fixtures.staged_input(
        fixtures.safe_tag("ivmfeed", sf_dir),
        lambda path: orders.repartition(4).write.mode("overwrite").parquet(path),
    )


def prestage_inputs(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> None:
    """Warm the process-cached input fixtures for ``sf_dir`` so a
    subsequent timed run measures the operator, not fixture staging
    (bench.py calls this between its warm-up and timed passes).  With
    catalog entry ``names``, only the fixtures those entries read are
    staged; without, every one."""
    from amazon_books_review_spark.plans import pyds_queries

    readers = {
        _ssoj_staged: {"streaming_stream_stream_outer_join"},
        _hh_feed: {"streaming_heavy_hitters"},
        _ivm_feed: {"streaming_incremental_rollup"},
        pyds_queries._fixture: {name for name, *_ in pyds_queries.PYDS_QUERIES},
    }
    wanted = None if names is None else set(names)
    for stage, entries in readers.items():
        if wanted is None or entries & wanted:
            stage(spark, sf_dir)


STREAMING_QUERIES = [
    ("streaming_windowed_counts", streaming_windowed_counts, STREAMING_WINDOWED_ORACLE,
     "ST1-ST6: watermarked tumbling window agg, complete mode == batch"),
    ("streaming_stream_static_join", streaming_stream_static_join, STREAM_STATIC_JOIN_ORACLE,
     "ST7+J1: append-mode stream-static join == batch join"),
    ("streaming_stream_stream_join", streaming_stream_stream_join, STREAM_STREAM_JOIN_ORACLE,
     "ST4: watermarked stream-stream join with time-range state eviction"),
    ("streaming_stream_stream_join_salted", streaming_stream_stream_join_salted,
     STREAM_STREAM_JOIN_ORACLE,
     "ST4 skew-hardened: salted key layout spreads a hot user across state partitions"),
    ("streaming_stream_stream_outer_join", streaming_stream_stream_outer_join,
     STREAM_STREAM_OUTER_JOIN_ORACLE,
     "ST4 LEFT OUTER: eviction-driven null-pads once the min watermark closes the window"),
    ("streaming_dedup_events", streaming_dedup_events, STREAM_DEDUP_ORACLE,
     "ST4+A4: dropDuplicatesWithinWatermark repairs at-least-once delivery"),
    ("streaming_session_window_counts", streaming_session_window_counts,
     SESSION_WINDOW_STREAM_ORACLE,
     "ST6: gap-merged session_window on the watermarked stream == batch"),
    ("streaming_schema_drift_live", streaming_schema_drift_live,
     SCHEMA_DRIFT_LIVE_ORACLE,
     "live drift on a RUNNING stream: gated stop->widen->restart, exactly-once sink"),
    ("streaming_heavy_hitters", streaming_heavy_hitters, STREAM_HH_ORACLE,
     "stateful streaming Misra-Gries: per-batch candidates folded via foreachBatch, exact recount"),
    ("streaming_incremental_rollup", streaming_incremental_rollup, STREAM_IVM_ORACLE,
     "streaming IVM: per-batch delta merged into a versioned rollup snapshot, idempotent commits"),
]

# transformWithStateInPandas needs the python protobuf package for
# state serialization; register its query only where that exists
# (the applyInPandasWithState sessionizer covers arbitrary state
# everywhere else).
if tws_available():
    STREAMING_QUERIES.append(
        ("streaming_running_totals_tws", streaming_running_totals_tws,
         RUNNING_TOTALS_TWS_ORACLE,
         "transformWithStateInPandas running totals (RocksDB state, int cents)")
    )
