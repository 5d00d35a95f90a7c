"""SparkSession construction and semantic-conf pinning.

The reference mutates session confs mid-notebook
(``spark.conf.set("spark.sql.legacy.timeParserPolicy","LEGACY")`` at
Amazon-book-review_books_details.py:111) and implicitly relies on
non-ANSI cast-invalid-to-NULL semantics (the float casts at
Amazon-book-review_books_details.py:99 and
Amazon-book-review_books_reviews.py:47-67 exist precisely to null out
garbage rows).  Spark 4 defaults ANSI mode ON, so those semantics must
be pinned explicitly.  We centralise every semantic conf here: one
builder for library users, plus :func:`ensure_session_confs` for when
the session is handed to us (the driver harness creates its own).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegralType, StructType

#: Runtime-settable SQL confs that define this engine's semantics.
#: All of these are session-scoped (safe to set on a borrowed session).
SEMANTIC_CONFS: dict[str, str] = {
    # Reference sets this mid-pipeline (BD:111) to parse "yyyy"-only
    # dates; we pin it up front.
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # Reference relies on CAST(bad-string AS float) -> NULL
    # (BD:99, BR:47-48, BR:67).  Spark 4 turned ANSI on by default.
    "spark.sql.ansi.enabled": "false",
    # Deterministic wall-clock semantics: all timestamp <-> string and
    # epoch conversions happen in UTC so results are reproducible and
    # match the DuckDB oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Spark rejects parquet TIMESTAMP(NANOS) columns (the events test
    # table uses them); read them as raw nanos longs instead and let
    # sources.io.load_table convert to TimestampType (micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Performance confs (builder-time; some also settable at runtime).
PERFORMANCE_CONFS: dict[str, str] = {
    # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
    # the silver join (skewed popular titles) depends on this.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (Pandas UDFs in functions/).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let Python Data Sources receive pushed filters (sources/warcish
    # implements pushFilters for manifest-based file pruning); off by
    # default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Pin the engine's semantic confs on an existing session.

    Idempotent and cheap; every public query entry point calls this so
    semantics don't depend on who built the session.
    """
    for key, value in SEMANTIC_CONFS.items():
        spark.conf.set(key, value)
    # Runtime-settable perf confs (ignore any that are builder-only).
    for key, value in PERFORMANCE_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - builder-only conf
            pass
    # A borrowed session still on Spark's stock 200 shuffle partitions
    # gets a local-mode-sane default (AQE coalesces the rest); an
    # explicitly configured value is respected.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:  # pragma: no cover
        pass
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` once and return a frame that reads the
    stored result — the engine's single materialization primitive.

    Why operators materialize at all:

    - **Lineage truncation.**  Iterative operators (PageRank, label
      propagation, connected components, k-core peeling, BPE merges)
      feed each round's output into the next; without a cut the plan
      grows one subtree per round and Catalyst's analysis time explodes
      after ~10 rounds.  ``cache``/``persist`` does NOT cut the plan.
    - **Shared subtrees.**  Catalyst does not dedupe a subtree consumed
      twice in one plan (a self-join, a frame feeding both a count and
      a join, anything over a ``mapInPandas`` kernel), so without this
      the producing work — shuffles, Python workers — runs once per
      consumer.  Dataset ``persist`` would dedupe, but it registers the
      subtree in the session-global cache manager, which then silently
      reshapes OTHER queries sharing that analyzed subtree.

    Where the result lives is a session decision, not an operator's:
    with ``sparkContext.setCheckpointDir`` set (HDFS/object store on a
    cluster) it is a reliable ``checkpoint`` that survives executor
    loss; otherwise a ``localCheckpoint`` — executor-local blocks, fast
    but NOT recoverable, right for a single local JVM.  Both are eager
    and row-identical.

    **Small-input local arm.**  The graph loops (PageRank, label
    propagation, both connected-components forms) materialize their
    edge list once, with an ``Observation`` (:func:`size_metrics`)
    riding that job for its row and null counts.  When the observed
    list fits ``spark.sql.autoBroadcastJoinThreshold`` — Spark's own
    bound on what it ships through the driver —
    :func:`fetch_if_small` pulls it through Arrow in one job, the loop
    replays its synchronous rounds in exact int64 numpy, and the
    result comes back as an Arrow-built ``LocalRelation``
    (:func:`local_frame`).  It fails closed (the distributed loop runs
    unchanged) when the threshold is ``<= 0`` (``-1`` turns the arm
    off), when ``rows x 8 bytes x columns`` exceeds it, when a column
    is not an integer type, or when an id column holds nulls.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def size_metrics(*id_cols: str) -> dict[str, Column]:
    """The local arm's size probe, for
    :func:`~amazon_books_review_spark.operators.metrics.with_observation`
    on the frame a loop materializes anyway (so it costs no job):
    ``n`` rows and ``nulls``, the null cells across ``id_cols``."""
    nulls = sum(
        (F.col(c).isNull().cast("long") for c in id_cols), F.lit(0).cast("long")
    )
    return {"n": F.count(F.lit(1)), "nulls": F.sum(nulls)}


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as Spark
    parses it (``10MB``, ``-1``)."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def fetch_if_small(df: DataFrame, n_rows: int, nulls: int = 0) -> pa.Table | None:
    """``df`` as an Arrow table when the local arm may take it, else
    ``None`` (see :func:`materialize`).  ``n_rows`` and ``nulls`` come
    from :func:`size_metrics` on the materialization ``df`` reads, so
    a refusal costs no job and an acceptance costs the one fetch."""
    threshold = broadcast_threshold(df.sparkSession)
    if threshold <= 0 or nulls or n_rows * 8 * len(df.columns) > threshold:
        return None
    if not all(isinstance(f.dataType, IntegralType) for f in df.schema.fields):
        return None
    return df.toArrow()


def local_frame(
    spark: SparkSession,
    data: list[tuple] | dict[str, object],
    schema: StructType | str,
) -> DataFrame:
    """A small driver-side result as an Arrow-built ``LocalRelation``.

    ``data`` is a list of row tuples or a mapping of column name to
    values (numpy arrays work).  Spark plans the frame as a
    ``LocalTableScan`` that executes in the JVM; a frame built from a
    Python list is a ``LogicalRDD`` whose every action starts a
    Python-worker job.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, list):
        cols = list(zip(*data)) if data else [[] for _ in schema.fields]
        data = dict(zip(schema.names, cols))
    table = pa.table(
        [pa.array(data[f.name], type=f.type) for f in arrow_schema],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def delta_session_confs() -> dict[str, str]:
    """Builder-time confs that enable Delta Lake when ``delta-spark``
    is importable (the reference's table format, MA:34-39); empty when
    it isn't.  Builder-only: the SQL extension cannot be injected into
    an already-running session, so pass these to :func:`get_session`'s
    ``extra_confs`` (or merge into your own builder) before the first
    ``getOrCreate``."""
    import importlib.util

    if importlib.util.find_spec("delta") is None:
        return {}
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }


#: Streaming state-store confs for large-state jobs.  The default
#: HDFS-backed provider keeps all state on the JVM heap — fine for
#: tests, fatal for 100 TB key cardinalities.  RocksDB (bundled with
#: OSS Spark since 3.2) spills state to local disk with changelog
#: checkpointing.  Session-scoped: set BEFORE starting the streaming
#: query (safe to flip per query).
STREAMING_SCALE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # bound memory: let RocksDB use its own block cache, not the heap
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}


def get_session(
    app_name: str = "amazon_books_review_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to Spark's own default; tests and
    local runs pass a small value, a real cluster would size it to
    ~2-3x total cores (and rely on AQE coalescing afterwards).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for key, value in {**SEMANTIC_CONFS, **PERFORMANCE_CONFS}.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_session_confs(spark)
