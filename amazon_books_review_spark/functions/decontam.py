"""Benchmark decontamination: flag training documents that share long
word n-grams with a held-out evaluation/benchmark set.

The standard training-data hygiene step (GPT-3 reported 13-gram
overlap removal; later public pipelines commonly use 8-grams): a
training document containing any n-gram that also occurs in a
benchmark is flagged — and typically dropped or surgically cleaned —
so downstream evals measure generalization rather than memorized test
data.

Spark-first shape, and why it scales to 100 TB:

- The eval side is SMALL by construction (benchmarks are thousands of
  documents, not billions), so its distinct n-gram set is broadcast —
  the 100 TB training corpus is never shuffled for the membership
  check, only for its own per-doc aggregation, which groups on the
  corpus's natural key (``doc_id``).
- The corpus side is one linear shingle pass — slice+zip_with n-grams
  (see ``functions.text.word_ngrams``; the element_at-in-lambda form
  re-evaluates the tokenizer per element and must be avoided) —
  followed by a single map-side-combinable count.
- Determinism: plain string equality on whitespace shingles; the
  cross-engine oracle is SQL set intersection, no hashing involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amazon_books_review_spark.functions.dedup import shingles
from amazon_books_review_spark.session import materialize

#: Overlap gram length — 8 words, the common public-pipeline choice.
DECONTAM_NGRAM = 8


def eval_ngram_set(
    eval_df: DataFrame, id_col: str, text_col: str, n: int = DECONTAM_NGRAM
) -> DataFrame:
    """The benchmark's distinct n-gram set (one ``shingle`` column).

    Distinct across the whole benchmark: membership is all the flag
    needs, and the dedup keeps the broadcast side minimal.
    """
    return shingles(eval_df, id_col, text_col, n=n).select("shingle").distinct()


def flag_contaminated(
    train_df: DataFrame,
    eval_grams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """Per training document: how many DISTINCT benchmark n-grams it
    contains, and a 0/1 ``contaminated`` flag.

    Every training doc is returned (clean docs with 0) so the caller
    can either anti-join the flagged ids or keep the counts for
    contamination-rate reporting.  ``eval_grams`` is broadcast: the
    corpus side never shuffles for the membership probe.
    """
    train_grams = shingles(train_df, id_col, text_col, n=n)
    hits = (
        train_grams.join(F.broadcast(eval_grams), "shingle")
        # shingles() is distinct-per-doc, so count(*) == distinct grams hit
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_grams_hit"))
    )
    return _flags_from_hits(train_df, hits, id_col)


def _flags_from_hits(train_df: DataFrame, hits: DataFrame, id_col: str) -> DataFrame:
    """Shared tail: every training doc, hit count coalesced to 0."""
    return (
        train_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_eval_grams_hit"), F.lit(0).cast("long")).alias(
                "n_eval_grams_hit"
            ),
            (F.col("n_eval_grams_hit").isNotNull()).cast("int").alias("contaminated"),
        )
    )


def flag_contaminated_hashed(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """:func:`flag_contaminated` with a HASHED membership prefilter —
    the shape that keeps decontamination broadcastable when the eval
    suite is large.

    At 100 TB the corpus is never the broadcast problem — the eval
    side is: a big benchmark battery (suites x paraphrase sets) can
    hold ~1e8 distinct 8-grams, and ~50 bytes per gram STRING makes a
    multi-GB broadcast, while 8-byte ``xxhash64`` values of the same
    set broadcast in hundreds of MB.  Two stages:

    1. prefilter: corpus grams join the BROADCAST hash set on the
       64-bit hash — the corpus-side scan stays linear and
       shuffle-free, exactly like the exact tier;
    2. verify: the surviving candidate grams (tiny by construction)
       join the true gram STRINGS in a plain candidate-bounded
       shuffle equi-join, so a hash collision can never flag a clean
       document.

    Output is therefore IDENTICAL to the exact tier (the catalog
    entry shares its oracle), and the hash function is an internal
    optimization that never reaches the result — so xxhash64 (JVM
    codegen, no external replay needed) is the right choice over a
    cross-engine-replayable hash.

    ``eval_grams`` feeds BOTH stages (the hash-set build and the exact
    verify join), so it is materialized once — without that the full
    eval shingling runs twice, a second pass over the whole benchmark
    battery at the 1e8-gram scale this tier exists for.  The eval side
    is small by construction, so the stored copy is bounded, not
    corpus-sized.
    """
    eval_grams = materialize(eval_ngram_set(eval_df, id_col, text_col, n=n))
    eval_hashes = eval_grams.select(F.xxhash64("shingle").alias("_h")).distinct()
    train_grams = shingles(train_df, id_col, text_col, n=n)
    cand = (
        train_grams.withColumn("_h", F.xxhash64("shingle"))
        .join(F.broadcast(eval_hashes), "_h")
        .drop("_h")
    )
    hits = (
        cand.join(eval_grams, "shingle")  # exact verify, candidate-bounded
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_grams_hit"))
    )
    return _flags_from_hits(train_df, hits, id_col)
