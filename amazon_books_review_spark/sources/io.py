"""Sources and sinks: the reference's I/O surface, made portable.

Covers SURVEY.md §2.1:

- S1 CSV batch scan (reference: inferschema at
  Amazon-book-review_books_details.py:54 / _books_reviews.py:29) —
  here with *explicit* schemas, which kills the extra inference pass
  over the file and makes types run-independent.
- S2/S3 Parquet batch sink/scan (BD:203/207, BR:119/125) — with an
  explicit write mode (the reference omits one and fails on re-run).
- S4 Auto Loader replacement: OSS streaming file source with a
  required explicit schema (MA:9-14, MA:50-55).
- S5/S6 checkpointed streaming sinks, append/complete
  (MA:34-39, MA:73-78, MA:127-132, MA:178-183).
- S9 ``dbutils`` mounts (BD:19-34) become plain configurable paths.

Scale notes (100 TB discipline):
- Readers take directories, not single files — a production table is
  thousands of parquet parts; ``spark.read.parquet`` handles both.
- ``write_parquet`` exposes ``partition_by`` and bucketing so big
  fact tables land partitioned (partition pruning at read time) and
  join-heavy tables can be bucketed (shuffle-free co-located joins).
- No ``collect()`` anywhere in this module.

Schema-once parquet reads: ``spark.read.parquet(path)`` launches one
Spark job to infer the schema from the file footers, on every call.
``read_parquet`` keeps each inferred schema per SparkContext and reads
an unchanged table with ``spark.read.schema(cached)``, which launches
none.  The key is the SparkContext's ``applicationId``, the absolute
path and the session confs that change what inference returns
(``_SCHEMA_CONFS``).  Each entry carries the path's
``file_fingerprint`` (name, size and ``mtime_ns`` of every data file,
from one ``os.scandir``); a changed fingerprint re-infers.  A path
that cannot be fingerprinted (a non-``file:`` scheme, a glob, a
listing error, an empty directory, any subdirectory such as a
partitioned table or a streaming sink's ``_spark_metadata``) and a
``mergeSchema`` session read plain inference.  ``table_row_count``
keys its footer counts on the same fingerprint.

Write-through parquet writes: ``write_parquet`` knows what it just
wrote, so a later read of it pays no Spark job either.  After the
write it reads each file's footer with pyarrow (no Spark job), returns
the summed row count of the files the write added, and seeds the
schema cache with the schema Spark stored in the footers
(``org.apache.spark.sql.parquet.row.metadata``) made nullable, which
is what inference returns.  The seed goes in only if a second
fingerprint equals the first.  A ``partition_by`` write, an
unfingerprintable path, summary files and a file without Spark's
footer key seed nothing and return None.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from amazon_books_review_spark.session import materialize

#: The driver-provided test tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def delta_available() -> bool:
    """True when ``delta-spark`` is importable.

    The reference's whole medallion persists to Delta (MA:34-39,
    MA:73-78, MA:127-132, MA:178-183); this engine is format-generic
    with parquet as the portable default and delta used end-to-end
    when the package is present.  Sessions must also carry
    :func:`~amazon_books_review_spark.session.delta_session_confs`
    for the SQL extension/catalog to resolve the format.
    """
    import importlib.util

    return importlib.util.find_spec("delta") is not None


def default_stream_format() -> str:
    """The format streaming sinks use when the caller doesn't pin one:
    delta if importable (reference fidelity), else parquet."""
    return "delta" if delta_available() else "parquet"


# ---------------------------------------------------------------------------
# Batch
# ---------------------------------------------------------------------------


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
    **options: str,
) -> DataFrame:
    """S1 — CSV scan.  Prefer an explicit ``schema``; inference is a
    full extra pass over the input (SURVEY.md §4.2.5)."""
    reader = spark.read.format("csv").option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.load(path)


def file_fingerprint(path: str) -> tuple | None:
    """(name, size, ``mtime_ns``) of each file Spark would list under a
    local parquet ``path``, from one ``os.scandir``; a single file
    gives its own stat.  Entries starting with ``.`` or ``_`` are
    skipped, except the ``_metadata``/``_common_metadata`` summaries
    that schema inference prefers.  None, meaning "do not cache", for a
    non-``file:`` scheme, a glob, a listing error, an empty directory
    and a directory holding any subdirectory."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    local = url.path if url.scheme else path
    try:
        with os.scandir(local) as it:
            entries = []
            for e in it:
                if e.is_dir():
                    return None
                if e.name.startswith(".") or (
                    e.name.startswith("_")
                    and not e.name.startswith(("_metadata", "_common_metadata"))
                ):
                    continue
                st = e.stat()
                entries.append((e.name, st.st_size, st.st_mtime_ns))
    except NotADirectoryError:
        try:
            st = os.stat(local)
        except OSError:
            return None
        return ((os.path.basename(local), st.st_size, st.st_mtime_ns),)
    except OSError:
        return None
    return tuple(sorted(entries)) or None


class _FingerprintCache:
    """LRU map of ``key -> (fingerprint, value)``, at most ``cap``
    keys.  A value is served only while the path's fingerprint still
    matches.  Locked: ``foreachBatch`` callbacks read parquet from
    py4j threads."""

    def __init__(self, cap: int) -> None:
        self._cap = cap
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, fingerprint: tuple):
        with self._lock:
            entry = self._entries.get(key)
            if entry is None or entry[0] != fingerprint:
                return None
            self._entries.move_to_end(key)
            return entry[1]

    def put(self, key, fingerprint: tuple, value) -> None:
        with self._lock:
            self._entries[key] = (fingerprint, value)
            self._entries.move_to_end(key)
            while len(self._entries) > self._cap:
                self._entries.popitem(last=False)


#: Session confs that change the schema parquet inference returns in
#: Spark 4.1 (the flags ``ParquetFileFormat.readSchema`` passes to its
#: schema converter, then ``mergeSchema``, which bypasses the cache).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: Inferred schemas.  Bounded because streaming outputs and per-run
#: fixtures land in fresh temp dirs.
_SCHEMAS = _FingerprintCache(256)


def _local_path(path: str) -> str:
    return urlparse(path).path if path.startswith("file:") else path


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """``_SCHEMAS`` key for ``path`` under the session's inference
    confs; None in a ``mergeSchema`` session, whose reads always
    infer."""
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    if confs[-1].lower() == "true":
        return None
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(_local_path(path)),
        confs,
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3 — Parquet scan (vectorized, column-pruned, filter-pushed by
    Catalyst as long as callers keep predicates on bare columns).

    The inferred schema is cached: keyed on the SparkContext, the
    absolute path and the ``_SCHEMA_CONFS`` values, and served while
    the path's ``file_fingerprint`` is unchanged, so a repeated read of
    an unchanged table launches no inference job.  The schema is
    cached, not the DataFrame: one DataFrame on both sides of a
    self-join makes its columns ambiguous.  Unfingerprintable paths
    and ``mergeSchema`` sessions infer on every call."""
    fingerprint = file_fingerprint(path)
    key = None if fingerprint is None else _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key, fingerprint)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS.put(key, fingerprint, df.schema)
    return df


def read_parquet_evolving(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Parquet scan over a directory whose files were written under
    DIFFERENT schema versions (columns added over time — the normal
    state of a long-lived ingest table).

    Production path: pass the CURRENT contract ``schema`` — old files
    surface NULL for later-added columns, no footer merge needed, and
    the read stays a plain pruned scan.  Discovery path (schema=None):
    ``mergeSchema`` unions all file footers — correct but pays a
    footer read per file at planning time, so at 100 TB it's a tool
    for finding the contract, not for running under it.  (Column
    REMOVALS or type changes are rejected by Spark's merge — handle
    those as explicit migrations, e.g. a compaction rewrite.)
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", True).parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> int | None:
    """S2 — Parquet sink with an explicit mode (reference omits it,
    BD:203).  ``partition_by`` enables partition pruning downstream;
    ``max_records_per_file`` bounds file sizes at scale.

    Write-through: returns the number of rows written, summed from the
    footers of the files the write added (pyarrow, no Spark job), and
    seeds ``read_parquet``'s schema cache for ``path`` with the schema
    Spark stored in those footers, made nullable as inference makes
    it, so the next ``read_parquet(path)`` launches no job.  Returns
    None and seeds nothing for a ``partition_by`` write, a path
    ``file_fingerprint`` cannot fingerprint (remote, glob), a
    directory holding summary files, any file without Spark's footer
    key or files that change while their footers are read; the schema
    is also not seeded when the files disagree on it."""
    before = None if partition_by else file_fingerprint(path)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    if partition_by:
        return None
    return _write_through(df.sparkSession, path, before)


#: Footer key under which Spark's parquet writer stores the schema of
#: the rows it wrote (``ParquetReadSupport.SPARK_METADATA_KEY``).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable,
    as a file scan reports it (Scala's ``DataType.asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _write_through(spark: SparkSession, path: str, before: tuple | None) -> int | None:
    """Rows in the files under ``path`` that are not in the pre-write
    fingerprint ``before``, from their footers; seeds ``_SCHEMAS``
    (see :func:`write_parquet`)."""
    import pyarrow.parquet as pq

    fingerprint = file_fingerprint(path)
    if fingerprint is None or any(name.startswith("_") for name, *_ in fingerprint):
        return None
    local = _local_path(path)
    old = set(before or ())
    n_rows, schemas = 0, set()
    try:
        for entry in fingerprint:
            meta = pq.read_metadata(os.path.join(local, entry[0]))
            schema = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
            if schema is None:
                return None
            schemas.add(schema)
            if entry not in old:
                n_rows += meta.num_rows
    except (OSError, ValueError):
        return None
    if file_fingerprint(path) != fingerprint:
        return None
    key = _schema_key(spark, path)
    if key is not None and len(schemas) == 1:
        footer = _parse_datatype_json_string(schemas.pop().decode())
        _SCHEMAS.put(key, fingerprint, _as_nullable(footer))
    return n_rows


def read_table_format(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Format-generic batch scan: parquet / orc / json / csv.

    JSON and CSV should always get an explicit ``schema`` (inference
    is an extra pass and run-dependent); parquet/orc are self-
    describing.  All four support predicate pushdown except JSON/CSV
    (row formats — at 100 TB convert to a columnar format at ingest,
    which is exactly what the cleaning pipelines do).
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.load(path)


def write_table_format(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Format-generic sink (parquet / orc / json / csv), explicit
    mode, optional partitioning.  Delta lands here unchanged when
    ``delta-spark`` is on the classpath (``fmt="delta"``) — the
    engine's sink abstraction is this function's signature."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for key, value in options.items():
        writer = writer.option(key, value)
    writer.save(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, within-file-sorted parquet layout.

    ``repartitionByRange`` + ``sortWithinPartitions`` gives each
    output file a disjoint value range on ``sort_cols``, so parquet
    row-group min/max statistics make selective scans skip whole
    files — the poor man's clustering/Z-order, and at 100 TB the
    difference between scanning one file and scanning all of them for
    a point/range query on the sort key.
    """
    out = df.repartitionByRange(
        *([num_files] if num_files else []), *[F.col(c) for c in sort_cols]
    ).sortWithinPartitions(*sort_cols)
    out.write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-bucketed by join key, optionally
    sorted within buckets).

    The 100 TB play: two fact tables bucketed on the same key with the
    same bucket count join WITHOUT any Exchange — the shuffle happened
    once at write time and is amortized over every subsequent join.
    Requires table-format writes (``saveAsTable``); plain ``.parquet``
    paths can't carry bucket metadata.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


#: Footer row counts, keyed on the absolute path.
_ROW_COUNTS = _FingerprintCache(256)


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count of ``{sf_dir}/{name}.parquet`` from parquet FOOTER
    metadata — no Spark job (VERDICT r18 #4: the self-sizing
    ``df.count()`` inside every ANN catalog entry is an extra
    full-scan action per query; at 100 TB that is a real job, while
    the footer answer is a metadata read).  Handles both a single
    file and a directory of part files (sum of footers).  Cached
    while the path's ``file_fingerprint`` is unchanged, so a rewrite
    at the same path is counted afresh."""
    import pyarrow.parquet as pq

    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    fingerprint = file_fingerprint(path)
    if fingerprint is not None:
        n = _ROW_COUNTS.get(path, fingerprint)
        if n is not None:
            return n
    if os.path.isdir(path):
        n = sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    else:
        n = pq.ParquetFile(path).metadata.num_rows
    if fingerprint is not None:
        _ROW_COUNTS.put(path, fingerprint, n)
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table: ``{sf_dir}/{name}.parquet``.

    The ``events`` table has shipped ``ts`` in two physical shapes
    across driver testdata generations, both normalized here to plain
    TimestampType (which ``withWatermark`` requires):

    - parquet TIMESTAMP(NANOS): the vectorized reader rejects it;
      under ``spark.sql.legacy.parquet.nanosAsLong=true`` (session.py)
      it arrives as a nanos BIGINT and is converted to TimestampType
      at microsecond precision (``div 1000`` — integer division,
      since nanos exceed double's 2^53 exact-integer range).
    - parquet ``timestamp[us]`` without timezone: Spark reads it as
      TIMESTAMP_NTZ, which the watermark API hard-rejects
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Under the pinned UTC
      session a cast to TIMESTAMP reinterprets the wall-clock value
      as UTC — byte-identical instants, watermark-legal type.
    """
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_time(df)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType regardless of
    which physical shape the parquet writer used (nanos BIGINT or
    TIMESTAMP_NTZ).  No-op when the column is absent or already
    TimestampType."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load several test tables; optionally register temp views so the
    SQL surface (``spark.sql``) works over them — the reference's
    temp-view+SQL idiom (MA:14, MA:22-25)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


def read_stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S4 — the OSS replacement for Databricks Auto Loader (MA:9-14),
    format-generic (parquet / delta / orc / json / csv).

    The OSS *file* sources require a user-supplied schema — which is
    the better engineering anyway (Auto Loader's
    ``cloudFiles.schemaLocation`` exists to paper over inference).
    Delta is self-describing, so ``schema`` is optional there (and
    ignored by the delta source).  ``max_files_per_trigger`` is the
    rate-control knob.
    """
    reader = spark.readStream.format(fmt)
    if schema is not None and fmt != "delta":
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S4, parquet-pinned form (the common call)."""
    return read_stream_files(
        spark, path, schema, "parquet", max_files_per_trigger
    )


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    fmt: str = "parquet",
    available_now: bool = True,
    query_name: str | None = None,
) -> StreamingQuery:
    """S5/S6 — checkpointed streaming file sink.

    ``available_now=True`` gives deterministic drain-everything-then-stop
    semantics (the test idiom; production would pass False for a
    continuous micro-batch loop).  ``output_mode="complete"`` is only
    valid for aggregations and is handled by :func:`write_stream_complete`
    because the OSS file sink only supports append — the reference's
    complete-mode gold sink (MA:178-183) relies on Delta.
    """
    writer: DataStreamWriter = (
        df.writeStream.format(fmt)
        .option("checkpointLocation", checkpoint)
        .option("path", path)
        .outputMode(output_mode)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_update_upsert(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    available_now: bool = True,
    query_name: str | None = None,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Update-mode aggregate sink via foreachBatch key-upsert.

    The scale-correct alternative to complete mode (SURVEY ST3-ST5):
    with a watermark, update mode emits only the CHANGED aggregate
    rows per micro-batch; this sink merges them into the target by
    key (existing rows for re-emitted keys are replaced).  State and
    per-batch write cost are O(changed keys), not O(all keys ever) —
    complete mode rewrites the full result table every batch, which
    is fatal at 100 TB key cardinalities.

    ``fmt="delta"`` uses a real transactional MERGE INTO
    (whenMatchedUpdateAll / whenNotMatchedInsertAll) — the
    reference's actual gold idiom.  Plain parquet has no MERGE; the
    portable fallback is read -> anti-join on keys -> union ->
    overwrite.  The sink contract is identical either way.
    """

    def _upsert_delta(batch_df: DataFrame, _batch_id: int) -> None:
        from delta.tables import DeltaTable

        spark = batch_df.sparkSession
        if not DeltaTable.isDeltaTable(spark, path):
            batch_df.write.format("delta").mode("overwrite").save(path)
            return
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(batch_df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        batch_df = materialize(batch_df)
        try:
            existing = read_parquet(spark, path)
            merged = existing.join(
                batch_df.select(*keys), keys, "left_anti"
            ).unionByName(batch_df)
        except AnalysisException as exc:
            # First batch only: the target doesn't exist yet.  Any
            # OTHER failure (transient storage error, corrupt footer)
            # must propagate — falling back here would silently
            # overwrite the table with just this micro-batch and drop
            # every previously upserted key.
            condition = getattr(exc, "getCondition", exc.getErrorClass)() or ""
            if "PATH_NOT_FOUND" not in condition and (
                "Path does not exist" not in str(exc)
            ):
                raise
            merged = batch_df
        write_parquet(materialize(merged), path)

    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_upsert_delta if fmt == "delta" else _upsert)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_complete(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
    query_name: str | None = None,
    fmt: str = "parquet",
) -> StreamingQuery:
    """S6 — complete-mode aggregate sink.

    The OSS parquet sink cannot take ``complete`` output directly
    (that needs a table format with overwrite, i.e. Delta — MA:182).
    Portable equivalent: ``foreachBatch`` overwriting the target per
    micro-batch.  ``fmt="delta"`` writes the same overwrite
    transactionally.  Same observable behavior either way: the sink
    always holds the full current aggregate.
    """

    def _overwrite(batch_df: DataFrame, _batch_id: int) -> None:
        if fmt == "parquet":
            write_parquet(batch_df, path)
        else:
            batch_df.write.format(fmt).mode("overwrite").save(path)

    writer = (
        df.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_overwrite)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
