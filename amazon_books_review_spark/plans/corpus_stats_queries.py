"""Corpus-statistics queries: the whole-corpus aggregates a training
pipeline derives *from* the data before it can curate the data —
an inverted index, a unigram language model for importance scoring,
BPE pair statistics (tokenizer training step 1), and group-normalized
quality scores.

These extend the reference surface (which has no corpus-level
operators); each is a pure function of the parquet tables with an
exact DuckDB oracle.  Tokenization matches `functions.text.tokens`
(trim + split on ``\\s+``) lowercased, so Spark and DuckDB agree on
token boundaries by construction.

Scale notes are per-query; the shared discipline: nothing here ever
collects a term list to the driver, hot-term skew is bounded either
by capping per-term state (inverted index sample) or by aggregating
to the (doc, term) / (word) grain before the term-keyed join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_books_review_spark.session import local_frame, materialize
from amazon_books_review_spark.sources.io import load_table


def _doc_terms(spark: SparkSession, sf_dir: str, distinct_per_doc: bool) -> DataFrame:
    """(doc_id, term) pairs, lowercased whitespace tokens; optionally
    distinct within each document (set semantics for the index)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), "\\s+")
    if distinct_per_doc:
        toks = F.array_distinct(toks)
    return (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
    )


# ---------------------------------------------------------------------------
# Inverted index with bounded per-term state
# ---------------------------------------------------------------------------

POSTINGS_SAMPLE_K = 8


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per term, the document frequency and the first
    ``POSTINGS_SAMPLE_K`` doc_ids (comma-joined, ascending).

    Scale design: one shuffle on ``term``.  ``df`` and the sample rank
    both come from window functions over the same ``partitionBy(term)``
    exchange, and the final ``groupBy(term)`` reuses that partitioning
    (no second Exchange).  Per-term aggregation state is bounded at K
    doc_ids — a hot term ("the") with 10^9 postings costs a count and
    K rows, never a 10^9-element collect_list.  Full posting lists at
    100 TB are a *layout* (sort by term, write bucketed), not a row.
    """
    pairs = _doc_terms(spark, sf_dir, distinct_per_doc=True)
    w = Window.partitionBy("term")
    ranked = pairs.select(
        "term",
        "doc_id",
        F.count("*").over(w).alias("df"),
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
    ).filter(F.col("rn") <= POSTINGS_SAMPLE_K)
    return (
        ranked.groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "postings_sample"
            ),
        )
        .select("term", F.col("df").cast("long").alias("df"), "postings_sample")
    )


INVERTED_INDEX_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
), nonempty AS (
    SELECT * FROM pairs WHERE term <> ''
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{POSTINGS_SAMPLE_K}], ',')
           AS postings_sample
FROM nonempty
GROUP BY term
"""


# ---------------------------------------------------------------------------
# Unigram-LM document scoring (importance-sampling style data selection)
# ---------------------------------------------------------------------------


def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by its mean token log-probability under the
    corpus's own unigram LM — the classic cheap perplexity proxy used
    for quality filtering / importance sampling (CCNet-style, with the
    corpus itself as the LM).

    Scale design: tokens are aggregated to the (doc_id, term) grain
    *before* the term-keyed join, so the join left side is one row per
    distinct term per doc (sublinear in token count) and the right side
    is one row per vocab term.  The vocab counts roll up from doc_tf
    (sum of tf), not from a second pass over the raw token stream —
    one explode, one shuffle of tokens, everything after runs on the
    reduced grain.  The vocab total is a 1-row broadcast.  Hot terms
    skew the term join's build side only by one row each.
    """
    tok = _doc_terms(spark, sf_dir, distinct_per_doc=False)
    doc_tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    term_tf = doc_tf.groupBy("term").agg(F.sum("tf").alias("gtf"))
    total = term_tf.agg(F.sum("gtf").alias("total"))
    scored = (
        doc_tf.join(term_tf, "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("tf") * (F.log("gtf") - F.log("total")))
                / F.sum("tf")
            ).alias("avg_logprob"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob")
    )


UNIGRAM_ORACLE = """
WITH tok AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
), nonempty AS (
    SELECT * FROM tok WHERE term <> ''
), doc_tf AS (
    SELECT doc_id, term, count(*) AS tf FROM nonempty GROUP BY doc_id, term
), term_tf AS (
    SELECT term, count(*) AS gtf FROM nonempty GROUP BY term
), total AS (
    SELECT sum(gtf) AS total FROM term_tf
)
SELECT d.doc_id,
       CAST(sum(d.tf) AS BIGINT) AS n_tokens,
       round(sum(d.tf * (ln(t.gtf) - ln(total.total))) / sum(d.tf), 6)
           AS avg_logprob
FROM doc_tf d JOIN term_tf t USING (term) CROSS JOIN total
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Bigram LM scoring (r8) — one order up from the unigram proxy
# ---------------------------------------------------------------------------


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean BIGRAM log-probability per document under the corpus's own
    add-1-smoothed bigram LM — the next rung of the perplexity-proxy
    ladder above `unigram_logprob_score` (conditional context catches
    word-salad documents whose unigram mix looks fine).

    Estimate: P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with c(w1·)
    the bigram-start count and V the distinct-next-word vocabulary
    (the standard conditional add-1 form).

    Scale design mirrors the unigram query: bigrams reduce to the
    (doc, w1, w2) grain in the one token-pair shuffle BEFORE any
    model join; the c(w1·) table rolls up from the bigram table (no
    second corpus pass); V is a 1-row broadcast.  Bigram generation
    is a Catalyst ``transform(sequence(...))`` over the word array —
    zero Python, zero extra shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(
            "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("words")
        )
        .filter(F.size("words") >= 2)  # sequence(1, 0) would run BACKWARDS
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1),"
                    " i -> struct(element_at(words, i) AS w1,"
                    " element_at(words, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bg = materialize(bg)  # (doc, bigram) grain; pair-shuffle ONCE
    c12 = bg.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = c12.agg(F.count_distinct("w2").alias("v"))
    model = (
        c12.join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1", "w2",
            (F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))).alias("lp"),
        )
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * F.col("lp")) / F.sum("tf"), 6).alias(
                "avg_bigram_logprob"
            ),
        )
    )


BIGRAM_ORACLE = """
WITH d AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
    FROM documents
), bg0 AS (
    SELECT doc_id,
           unnest([struct_pack(w1 := words[i], w2 := words[i + 1])
                   for i in range(1, len(words))]) AS b
    FROM d WHERE len(words) >= 2
), bg AS (
    SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS tf
    FROM bg0 WHERE b.w1 <> '' AND b.w2 <> ''
    GROUP BY doc_id, b.w1, b.w2
), c12 AS (
    SELECT w1, w2, sum(tf) AS c12 FROM bg GROUP BY w1, w2
), c1 AS (
    SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
), vocab AS (
    SELECT count(DISTINCT w2) AS v FROM c12
), model AS (
    SELECT w1, w2, ln((c12 + 1) * 1.0 / (c1 + v)) AS lp
    FROM c12 JOIN c1 USING (w1) CROSS JOIN vocab
)
SELECT bg.doc_id,
       CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
       round(sum(bg.tf * m.lp) / sum(bg.tf), 6) AS avg_bigram_logprob
FROM bg JOIN model m USING (w1, w2)
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# BPE pair statistics (tokenizer training, step 1)
# ---------------------------------------------------------------------------

BPE_MIN_PAIR_COUNT = 2


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies weighted by word frequency —
    the first merge-selection step of BPE tokenizer training.

    Scale design: the corpus collapses to the distinct-word frequency
    table first (the same reduction real BPE trainers make: vocab
    candidates come from word *types*, weights from word *counts*), so
    the pair explosion runs over |vocab| rows, not |corpus| tokens.
    Pair generation is a Catalyst ``transform(sequence(...))`` — no
    Python in the loop.
    """
    words = _doc_terms(spark, sf_dir, distinct_per_doc=False).select(
        F.col("term").alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("n_word"))
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "n_word",
        )
        .groupBy("pair")
        .agg(F.sum("n_word").cast("long").alias("n"))
        .filter(F.col("n") >= BPE_MIN_PAIR_COUNT)
    )
    return pairs


BPE_ORACLE = f"""
WITH tok AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
), wc AS (
    SELECT word, count(*) AS n_word FROM tok
    WHERE word <> '' GROUP BY word
), pairs AS (
    SELECT unnest([substr(word, i, 2) for i in range(1, len(word))]) AS pair,
           n_word
    FROM wc WHERE len(word) >= 2
)
SELECT pair, CAST(sum(n_word) AS BIGINT) AS n
FROM pairs GROUP BY pair
HAVING sum(n_word) >= {BPE_MIN_PAIR_COUNT}
"""


# ---------------------------------------------------------------------------
# Group-normalized quality scores
# ---------------------------------------------------------------------------


def source_zscore_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source normalization of a raw quality signal (doc length):
    z-score against the source's own mean/stddev plus the in-source
    percentile rank.  Mixture curation compares documents *within* a
    source, not across sources with different length distributions.

    Scale design: one shuffle on ``source`` serves all three window
    computations (mean, stddev, rank share the partitioning).  Source
    cardinality is tiny, so this is the one place a skewed partition is
    structural — at 100 TB the same query runs as a two-pass groupBy
    (stats) + broadcast join back, which keeps partitions balanced;
    both shapes are implemented in `operators/aggregates.py`-style
    composition, the window form is used here because it is one job.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    mu = F.avg("n_chars").over(w)
    sd = F.stddev_pop("n_chars").over(w)
    z = F.when(sd > 0, (F.col("n_chars") - mu) / sd).otherwise(F.lit(0.0))
    pr = F.percent_rank().over(w.orderBy("n_chars", "doc_id"))
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(z, 6).alias("z_len"),
        F.round(pr, 9).alias("pct_rank_len"),
    )


ZSCORE_ORACLE = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       round(CASE WHEN stddev_pop(n_chars) OVER w > 0
                  THEN (n_chars - avg(n_chars) OVER w)
                       / stddev_pop(n_chars) OVER w
                  ELSE 0.0 END, 6) AS z_len,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id), 9)
           AS pct_rank_len
FROM documents
WINDOW w AS (PARTITION BY source)
"""


# ---------------------------------------------------------------------------
# WordPiece tokenizer application (recursive set-based segmentation)
# ---------------------------------------------------------------------------

#: fixed WordPiece-style vocabulary: (piece, is_continuation).  The
#: multi-char pieces carve the synthetic corpus vocabulary; the a-z
#: singletons (both positions) make segmentation TOTAL over [a-z]+
#: words, so no [UNK] branch is needed inside the recursion — non-
#: alphabetic words would be mapped to [UNK] by a pre-filter, but the
#: corpus tokenizer contract (lowercased \s+ split) yields none here.
WORDPIECE_VOCAB: list[tuple[str, bool]] = [
    ("spark", False), ("str", False), ("eam", True), ("mer", False),
    ("ge", True), ("wind", False), ("ow", True), ("fil", False),
    ("ter", True), ("cust", False), ("omer", True), ("ta", False),
    ("ble", True), ("jo", False), ("in", True), ("gr", False),
    ("oup", True), ("qu", False), ("ery", True), ("sc", False),
    ("an", True), ("val", False), ("ue", True), ("vec", False),
    ("tor", True), ("ba", False), ("tch", True), ("slo", False),
    ("sm", False), ("all", True), ("or", False), ("der", True),
    ("li", False), ("ne", True), ("co", False), ("lumn", True),
    ("par", False), ("sh", True),
] + [(c, cont) for c in "abcdefghijklmnopqrstuvwxyz" for cont in (False, True)]


def _wordpiece_seg_sql(null_str_type: str) -> str:
    """The recursive segmentation body, shared verbatim by both
    engines (only the NULL cast type differs: STRING vs VARCHAR).

    Greedy longest-match at each position: the join picks candidate
    pieces valid at the position (continuation flag = pos > 1), the
    NOT EXISTS anti-join against the same static vocab keeps only the
    longest — the standard WordPiece step, as a set operation.
    """
    vals = ", ".join(
        f"('{p}', {str(c).lower()})" for p, c in WORDPIECE_VOCAB
    )
    return f"""
seg(word, pos, piece) AS (
    SELECT word, 1, CAST(NULL AS {null_str_type}) FROM wp_words
    UNION ALL
    SELECT r.word, r.pos + length(v.piece), v.piece
    FROM seg r JOIN (SELECT * FROM (VALUES {vals}) AS t(piece, cont)) v
      ON v.cont = (r.pos > 1)
     AND substr(r.word, r.pos, length(v.piece)) = v.piece
    WHERE r.pos <= length(r.word)
      AND NOT EXISTS (
        SELECT 1 FROM (SELECT * FROM (VALUES {vals}) AS t2(piece, cont)) v2
        WHERE v2.cont = (r.pos > 1)
          AND length(v2.piece) > length(v.piece)
          AND substr(r.word, r.pos, length(v2.piece)) = v2.piece)
)"""


_WORDPIECE_FINAL = """
SELECT CASE WHEN s.pos - length(s.piece) > 1 THEN '##' || s.piece
            ELSE s.piece END AS piece,
       count(DISTINCT s.word) AS n_words,
       CAST(sum(w.n_occ) AS BIGINT) AS total_count
FROM seg s JOIN wp_counts w ON s.word = w.word
WHERE s.piece IS NOT NULL
GROUP BY 1
"""


def wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer APPLICATION as a recursive set operation:
    greedy longest-match segmentation of every corpus word against a
    fixed (piece, is_continuation) vocabulary, emitted as the global
    piece histogram (occurrence-weighted; continuations shown with
    the conventional ## prefix).

    The usual framing of tokenizer application is a per-row UDF loop;
    this runs it as ``WITH RECURSIVE`` over the DISTINCT-WORD grain —
    the scale insight being that a tokenizer consumes the corpus'
    word-type vocabulary, not its token stream: segmentation cost is
    O(types x word-length), and the token-stream weights join back as
    one word-grain aggregate.  Recursion depth is bounded by the max
    word length; every step joins the frontier against the tiny
    static vocab (broadcast both engines).  Identical recursive SQL
    runs on Spark 4 and DuckDB — the oracle differs only in its word
    CTE and the NULL cast spelling.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .transform(materialize)  # recursion re-reads the frontier seed
    )
    words.select("word").createOrReplaceTempView("wp_words")
    words.createOrReplaceTempView("wp_counts")
    return spark.sql(
        "WITH RECURSIVE " + _wordpiece_seg_sql("STRING") + _WORDPIECE_FINAL
    )


WORDPIECE_ORACLE = (
    r"""
WITH RECURSIVE wp_words AS (
    SELECT word FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents) WHERE word <> ''
    GROUP BY word
), wp_counts AS (
    SELECT word, count(*) AS n_occ FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents) WHERE word <> ''
    GROUP BY word
), """
    + _wordpiece_seg_sql("VARCHAR").lstrip()
    + _WORDPIECE_FINAL
)


# ---------------------------------------------------------------------------
# n-gram novelty (memorization-risk scoring)
# ---------------------------------------------------------------------------

NOVELTY_N = 3  # shingle width


def gram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word {n}-grams that appear in NO other document — the
    memorization-risk / contamination-adjacent profile (a doc whose
    grams are all shared is boilerplate or a duplicate; a doc that is
    all-novel is unique content worth its training tokens).

    Scale shape: distinct shingles per doc explode once; gram
    document-frequency is a gram-grain aggregate of that same frame
    (grain-reduced before the join back, so a hot gram costs one
    build-side row); the per-doc fraction is a doc-grain aggregate.
    Two shuffles total, both on reduced grains — never an all-pairs
    term.  Integer ratio, hash-exact.
    """
    from amazon_books_review_spark.functions import dedup

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, "doc_id", "text", n=NOVELTY_N)
    gram_df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(gram_df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


GRAM_NOVELTY_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        [list_reduce(words[i:i+{NOVELTY_N - 1}], (a, b) -> a || ' ' || b)
         for i in range(1, len(words) - {NOVELTY_N - 2})]
    )) AS shingle
    FROM docs
), gram_df AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN g.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN g.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS novelty
FROM sh s JOIN gram_df g USING (shingle)
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# BPE merge training (the iterative loop; bpe_pair_counts is round 0)
# ---------------------------------------------------------------------------

BPE_MERGES = 8  # merge rounds to train


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence-weighted word-type table, checkpointed once —
    shared by BPE training and application so the corpus tokenizes
    exactly once when the two run back to back."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .transform(materialize)
    )


def _bpe_merge_rounds(words: DataFrame) -> list[tuple]:
    """The K argmax-merge rounds over a word-type table; returns the
    learned (round, l, r, merged, cnt) list."""
    rep = words.select(
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.col("word"), ""), " "),
            F.lit(" "),
        ).alias("rep"),
        "n_occ",
    ).transform(materialize)
    # ^ r19: materialize the word-TYPE symbol table ONCE — the per-round
    # pair count used to re-evaluate the whole corpus tokenize+agg under
    # the growing replace lineage (K rounds = K full corpus passes);
    # rounds now chain map-side replaces over the checkpointed types.
    merges = []
    for rnd in range(1, BPE_MERGES + 1):
        pairs = (
            rep.select(
                "n_occ",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(split(trim(rep), ' '), 1, size(split(trim(rep), ' ')) - 1)").alias("l"),
                        F.expr("slice(split(trim(rep), ' '), 2, size(split(trim(rep), ' ')) - 1)").alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n_occ").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).first()  # the 1-row loop-carried sync (kmeans-centroid discipline)
        if best is None:  # no adjacent pair left (degenerate/exhausted corpus)
            break
        merges.append((rnd, best["l"], best["r"], best["l"] + best["r"], best["cnt"]))
        rep = rep.select(
            F.replace(
                F.col("rep"),
                F.lit(f" {best['l']} {best['r']} "),
                F.lit(f" {best['l']}{best['r']} "),
            ).alias("rep"),
            "n_occ",
        )
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE tokenizer's merge list (Sennrich et al. 2016): the
    iterative loop ``bpe_pair_counts`` is round zero of — each round
    counts occurrence-weighted adjacent symbol pairs over the word
    types, picks the most frequent (ties to lexicographically
    smallest), and fuses it everywhere.  Output: the learned merge
    table (round, left, right, merged, count) — the tokenizer
    artifact itself, ``BPE_MERGES`` rows.

    Scale shape (the same discipline as the k-means loop): per round
    one pair-grain aggregate over the WORD-TYPE table (types, not the
    token stream — the whole-corpus weights came along in the one
    initial aggregate) and a single 1-row driver sync (the argmax
    pair, the loop-carried decision).  The merge itself is a map-side
    string replace; symbol strings are space-delimited so the
    replace-based fuse is exactly the greedy left-to-right
    non-overlapping BPE step, and the DuckDB oracle replays every
    round as a CTE pair with the identical replace.
    """
    merges = _bpe_merge_rounds(_bpe_words(spark, sf_dir))
    return local_frame(
        spark, merges, "merge_round long, l string, r string, merged string, cnt long"
    )


def _bpe_train_oracle() -> str:
    rounds = []
    for i in range(BPE_MERGES):
        rounds.append(f"""
p{i} AS (
    SELECT a AS l, b AS r, CAST(sum(n_occ) AS BIGINT) AS cnt
    FROM (
      SELECT n_occ,
             unnest(syms[1:len(syms)-1]) AS a,
             unnest(syms[2:len(syms)]) AS b
      FROM (SELECT string_split(trim(rep), ' ') AS syms, n_occ FROM r{i})
    )
    GROUP BY a, b
), b{i} AS (
    SELECT l, r, cnt FROM p{i}
    ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), r{i + 1} AS (
    SELECT replace(rep, ' ' || b.l || ' ' || b.r || ' ',
                   ' ' || b.l || b.r || ' ') AS rep, n_occ
    FROM r{i} CROSS JOIN b{i} b
)""")
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_round, l, r, l || r AS merged, cnt"
        f" FROM b{i}"
        for i in range(BPE_MERGES)
    )
    return f"""
WITH words AS (
    SELECT word, count(*) AS n_occ FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents)
    WHERE word <> '' GROUP BY word
), r0 AS (
    SELECT ' ' || array_to_string(list_transform(range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS rep,
           n_occ
    FROM words
),{",".join(rounds)}
SELECT * FROM (
  {unions}
)
"""


def bpe_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merges: replay the ``BPE_MERGES`` fuses
    over every word type and emit the resulting token histogram
    (token, n_words, total_count) — training and application as two
    catalog queries sharing one merge list, the full tokenizer story
    (pair counts -> merge training -> application; wordpiece covers
    the longest-match family).

    The merge list is the 8-row training output (a driver-side
    constant by contract, like k-means centroids) learned over the
    SAME checkpointed word-type table the application then segments —
    the corpus tokenizes exactly once for both phases.  Application
    is a chain of map-side string replaces over word types; at 100 TB
    the token stream never participates until the final
    occurrence-weighted histogram join, which arrives pre-reduced at
    word grain.
    """
    words = _bpe_words(spark, sf_dir)
    merges = _bpe_merge_rounds(words)
    rep = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("word"), ""), " "), F.lit(" ")
    )
    for _rnd, l, r, merged, _cnt in merges:
        rep = F.replace(rep, F.lit(f" {l} {r} "), F.lit(f" {merged} "))
    return (
        words.select("n_occ", F.explode(F.split(F.trim(rep), " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_occ").alias("total_count"),
        )
    )


def _bpe_apply_oracle() -> str:
    # reuse the training chain verbatim; tokenize from the FINAL rep
    train = _bpe_train_oracle()
    head, _sep, _tail = train.partition("SELECT * FROM (")
    return f"""{head}
SELECT token,
       count(*) AS n_words,
       CAST(sum(n_occ) AS BIGINT) AS total_count
FROM (
    SELECT n_occ, unnest(string_split(trim(rep), ' ')) AS token
    FROM r{BPE_MERGES}
)
GROUP BY token
"""


# ---------------------------------------------------------------------------
# Dataset card
# ---------------------------------------------------------------------------


def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row "dataset card" summary every corpus release ships
    with: global counts, size moments, and the dominant language with
    its share.  One full scan with map-side partial aggregation plus
    one language-grain argmax — nothing here is more than two
    scans over the corpus, and the output is a single row.

    Determinism: counts and sums are exact integers; mean is one
    divide rounded at 4; the top-language argmax breaks count ties by
    the LARGEST language code (max over (count, lang) structs — Spark
    struct ordering), mirrored in the oracle's ORDER BY c DESC, lang
    DESC.
    """
    docs = load_table(spark, sf_dir, "documents")
    totals = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias("mean_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    top_lang = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max(F.struct(F.col("c"), F.col("lang"))).alias("top"))
        .select(
            F.col("top.lang").alias("top_lang"),
            F.col("top.c").cast("long").alias("top_lang_docs"),
        )
    )
    return totals.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "mean_chars",
        "min_chars",
        "max_chars",
        "top_lang",
        "top_lang_docs",
        F.round(F.col("top_lang_docs") / F.col("n_docs"), 6).alias("top_lang_share"),
    )


DATASET_CARD_ORACLE = """
WITH totals AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(n_chars) * 1.0 / count(*), 4) AS mean_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
), top AS (
    SELECT lang AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs
    FROM documents GROUP BY lang
    ORDER BY count(*) DESC, lang DESC LIMIT 1
)
SELECT n_docs, n_sources, n_langs, total_chars, mean_chars, min_chars,
       max_chars, top_lang, top_lang_docs,
       round(top_lang_docs * 1.0 / n_docs, 6) AS top_lang_share
FROM totals CROSS JOIN top
"""


# ---------------------------------------------------------------------------
# Document-length histogram (log2 buckets)
# ---------------------------------------------------------------------------


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-count histogram with per-bucket share and
    cumulative share — the length profile every dataset card plots
    (sequence-packing efficiency and truncation losses are read
    straight off it).

    The bucket is ``len(bin(n_tokens))`` = floor(log2) + 1 — INTEGER
    bit-length arithmetic, not float ``log2`` (whose libm value at an
    exact power of two can land a hair under the integer and flip the
    floor on one engine but not the other).  One token-count scan,
    one bucket-grain aggregate, cumulative share as a window over the
    ~dozen bucket rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_bucket = (
        docs.select(F.length(F.bin(n_tokens)).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = per_bucket.agg(F.sum("n_docs").alias("tot"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(F.broadcast(total))
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket") - 1).cast("long").alias("lo_tokens"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("tot"), 6).alias("share"),
            F.round(F.sum("n_docs").over(w) / F.col("tot"), 6).alias("cum_share"),
        )
    )


DOC_LENGTH_HISTOGRAM_ORACLE = """
WITH b AS (
    SELECT CAST(length(bin(len(string_split_regex(trim(text), '\\s+'))))
                AS BIGINT) AS bucket
    FROM documents
), per_bucket AS (
    SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket
), total AS (SELECT sum(n_docs) AS tot FROM per_bucket)
SELECT bucket,
       CAST(power(2, bucket - 1) AS BIGINT) AS lo_tokens,
       CAST(n_docs AS BIGINT) AS n_docs,
       round(n_docs / tot, 6) AS share,
       round(sum(n_docs) OVER (ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / tot, 6) AS cum_share
FROM per_bucket CROSS JOIN total
"""


CORPUS_STATS_QUERIES = [
    ("dataset_card_stats", dataset_card_stats, DATASET_CARD_ORACLE,
     "one-row dataset-card summary: counts, size moments, dominant language"),
    ("doc_length_histogram", doc_length_histogram, DOC_LENGTH_HISTOGRAM_ORACLE,
     "log2-bucket token-length histogram with shares (bit-length, not float log2)"),
    ("inverted_index_postings", inverted_index_postings, INVERTED_INDEX_ORACLE,
     "inverted index: df + bounded postings sample, one term shuffle"),
    ("unigram_logprob_score", unigram_logprob_score, UNIGRAM_ORACLE,
     "corpus unigram-LM mean token logprob per doc (perplexity proxy)"),
    ("bigram_logprob_score", bigram_logprob_score, BIGRAM_ORACLE,
     "add-1 bigram-LM mean logprob per doc — conditional-context perplexity proxy"),
    ("bpe_pair_counts", bpe_pair_counts, BPE_ORACLE,
     "BPE training step 1: word-frequency-weighted adjacent char pairs"),
    ("source_zscore_quality", source_zscore_quality, ZSCORE_ORACLE,
     "per-source z-score + percentile rank of doc length"),    ("wordpiece_tokenize", wordpiece_tokenize, WORDPIECE_ORACLE,
     "WordPiece application as WITH RECURSIVE over the word-type grain; piece histogram"),    ("gram_novelty_scores", gram_novelty_scores, GRAM_NOVELTY_ORACLE,
     "per-doc fraction of corpus-unique n-grams (memorization-risk profile), grain-reduced"),    ("bpe_train_merges", bpe_train_merges, _bpe_train_oracle(),
     "BPE merge-list training: K argmax-merge rounds over the word-type table"),    ("bpe_apply_tokenize", bpe_apply_tokenize, _bpe_apply_oracle(),
     "apply the learned BPE merges over word types; occurrence-weighted token histogram"),
]
