"""Driver-gated round-trips for the row/columnar interchange formats
the generic reader/writer pair supports beyond CSV and Parquet
(sources/io.read_table_format / write_table_format): JSONL — the de
facto interchange format for LLM training corpora — and ORC.

Same fixture discipline as plans/books_csv_queries.py: the write is
the fixture step over a deterministic derivation of a parquet test
table, the READ BACK is the operator under the hard gate, and the
DuckDB oracle recomputes the expected result from the original table —
so a wrong writer encoding, a wrong reader schema, or a lossy
round-trip all fail the value hash.
"""

from __future__ import annotations

from amazon_books_review_spark.sources import fixtures

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_books_review_spark.sources.io import (
    load_table,
    read_parquet,
    read_table_format,
    write_table_format,
)


def _fixture_path(tag: str, sf_dir: str) -> str:
    # PID suffix: idempotent within a process, race-free across
    # concurrent processes (see books_csv_queries._csv_roundtrip).
    # Swept at exit + stale-pid sweep on mint (sources.fixtures).
    safe = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    return fixtures.pid_fixture_path("abr_fmt_", f"{tag}_{safe}")


#: Explicit read schema for the JSONL corpus — schema inference over
#: JSON is an extra full pass AND type-unstable (an all-int shard
#: infers long where another infers double); a corpus reader always
#: declares its record schema.
JSONL_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("lang", StringType()),
                    StructField("source", StringType()),
                    StructField("n_chars", LongType()),
                ]
            ),
        ),
        StructField("tags", ArrayType(StringType())),
        StructField("text", StringType()),
    ]
)


def jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus scan: documents re-shaped into the nested record
    layout training corpora ship as ({id, meta{...}, tags[], text}),
    written as JSON Lines, read back with the explicit schema, and
    flattened — nested-struct field access and array cardinality both
    under the value hash.

    Scale note: JSONL is a row format — no column pruning, no
    predicate pushdown — so a 100 TB pipeline reads it exactly once,
    at ingest, and converts to parquet (what the cleaning pipelines
    do); this query verifies that ingest read is lossless.
    """
    docs = load_table(spark, sf_dir, "documents")
    records = docs.select(
        F.col("doc_id").alias("id"),
        F.struct(
            F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("meta"),
        F.array(F.col("lang"), F.col("source")).alias("tags"),
        F.col("text"),
    )
    path = _fixture_path("jsonl", sf_dir)
    write_table_format(records, path, fmt="json", mode="overwrite")
    back = read_table_format(spark, path, fmt="json", schema=JSONL_SCHEMA)
    return back.select(
        F.col("id").alias("doc_id"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("meta.n_chars").alias("n_chars"),
        F.size("tags").alias("n_tags"),
        F.length("text").cast("long").alias("text_len"),
    )


JSONL_ROUNDTRIP_ORACLE = """
SELECT doc_id, lang, source, n_chars,
       CAST(2 AS INTEGER) AS n_tags,
       CAST(length(text) AS BIGINT) AS text_len
FROM documents
"""


def orc_lineitem_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan with predicate pushdown: a lineitem projection is
    written as ORC, read back, filtered (the range predicate reaches
    the ORC reader as a pushed filter / search argument) and
    aggregated.  Oracle recomputes from the parquet original, so an
    encoding or pushdown-semantics difference between the two columnar
    formats fails the hash."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
    )
    path = _fixture_path("orc", sf_dir)
    write_table_format(li, path, fmt="orc", mode="overwrite")
    back = read_table_format(spark, path, fmt="orc")
    return (
        back.filter(F.col("l_quantity") >= 25)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


ORC_ROUNDTRIP_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_quantity >= 25
GROUP BY l_returnflag
"""


def dpp_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE scan-elimination mechanism for
    partitioned 100 TB fact tables.  The fact (lineitem + ship_year)
    is written hive-partitioned by ship_year; the dim is the year list
    carrying a DATA-DERIVED attribute (order count vs 10% of total) so
    the selective filter is NOT derivable from the join key — static
    pruning can't fire, and Catalyst must inject the runtime
    ``dynamicpruning`` subquery into the fact scan's PartitionFilters
    (asserted in tests/test_scale_helpers.py).  At 100 TB this is the
    difference between scanning 7 years and scanning the 5 the dim
    survives.

    Both the rule and the data are deterministic, so the DuckDB oracle
    recomputes the identical dim set and the values hash-match.
    """
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = _fixture_path("dpp", sf_dir)
    li.write.mode("overwrite").partitionBy("ship_year").parquet(path)
    fact = read_parquet(spark, path)

    from pyspark.sql.window import Window

    # The year list with a data-derived attribute.  The global total
    # comes from an empty-partition WINDOW (not a broadcast-join of a
    # 1-row aggregate): a Join node between the filter and the scan
    # defeats PartitionPruning's selective-predicate detection, while
    # Filter-over-Window keeps the dim subtree filterable — verified
    # both ways against Spark 4.1's planner.
    years = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("dim_year"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    dim = (
        years.withColumn(
            "total_orders", F.sum("n_orders").over(Window.partitionBy())
        )
        .filter(F.col("n_orders") > F.col("total_orders") * 0.1)
        .select("dim_year")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    )
    return (
        fact.join(F.broadcast(dim), F.col("ship_year") == F.col("dim_year"))
        .groupBy(F.col("ship_year").cast("long").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


DPP_ORACLE = """
WITH years AS (
    SELECT year(o_orderdate) AS dim_year, count(*) AS n_orders
    FROM orders GROUP BY 1
), tot AS (
    SELECT sum(n_orders) AS total_orders FROM years
), dim AS (
    SELECT dim_year FROM years, tot WHERE n_orders > total_orders * 0.1
)
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS revenue
FROM lineitem JOIN dim ON year(l_shipdate) = dim_year
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# binaryFile source (the multimodal ingest path)
# ---------------------------------------------------------------------------

#: files materialized for the binaryFile fixture — the ingest demo is
#: probe-bounded by contract (a real deployment points the source at
#: an existing object-store prefix; the bound exists only because THIS
#: fixture must mint its files per process).
BINFILE_MAX_DOCS = 200


def binaryfile_ingest_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingest through Spark's built-in ``binaryFile``
    source — the standard first hop for image/audio/video corpora
    (one row per file: path, modificationTime, length, content).
    The fixture writes one ``doc_<id>.bin`` per document (payload =
    the text's UTF-8 bytes, so the oracle can recompute everything
    from the parquet original); the operator is the read-back: parse
    the id out of the file path, verify the payload byte length
    against the source-of-truth column, and fingerprint the content.

    Scale shape: ``binaryFile`` lists + splits by FILE (content is
    never split), so parallelism = file count and the natural 100 TB
    layout is many ~100 MB-1 GB blobs; tiny-file corpora hit the
    driver's listing wall first — the same small-file problem
    ``compaction_bin_packing`` plans away.  Everything after the scan
    is a zero-shuffle projection (md5 + length + a path regexp).
    """
    import os

    path = fixtures.pid_fixture_path(
        "abr_binf_", sf_dir.strip("/").replace("/", "_").replace(".", "_")
    )
    os.makedirs(path, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    rows = (
        docs.filter(F.col("doc_id") < BINFILE_MAX_DOCS)
        .select("doc_id", "text")
        .collect()  # bounded by BINFILE_MAX_DOCS — fixture mint only
    )
    for r in rows:
        with open(os.path.join(path, f"doc_{r['doc_id']:06d}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("file_bytes"),
        F.length("content").cast("long").alias("payload_bytes"),
        F.md5("content").alias("payload_md5"),
    )


BINARYFILE_ORACLE = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS file_bytes,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       md5(text) AS payload_md5
FROM documents
WHERE doc_id < {BINFILE_MAX_DOCS}
"""


FORMAT_QUERIES = [
    ("binaryfile_ingest_meta", binaryfile_ingest_meta, BINARYFILE_ORACLE,
     "binaryFile source ingest: per-file blob rows -> id parse + byte-length + md5"),
    ("jsonl_corpus_roundtrip", jsonl_corpus_roundtrip, JSONL_ROUNDTRIP_ORACLE,
     "JSONL nested-record corpus scan (explicit schema) round-trip"),
    ("orc_lineitem_roundtrip", orc_lineitem_roundtrip, ORC_ROUNDTRIP_ORACLE,
     "ORC sink + pushed-filter scan round-trip aggregate"),
    ("dpp_partitioned_scan", dpp_partitioned_scan, DPP_ORACLE,
     "dynamic partition pruning: runtime subquery in PartitionFilters"),
]
