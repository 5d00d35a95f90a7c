"""Training-data SELECTION queries, round 8.

Three operators a 100 TB pretraining pipeline runs between cleaning
and sampling — each scores or characterizes documents so a later
mixture step can weight them:

* :func:`dsir_importance_weights` — Data Selection via Importance
  Resampling (Xie et al. 2023): per-document importance log-weights
  from hashed n-gram features, log p_target(f) - log p_raw(f) summed
  over the document's tokens.  The feature space is hashed to a fixed
  ``DSIR_BUCKETS``-sized table, so the model side is a broadcast no
  matter the corpus size.
* :func:`zipf_slope_by_lang` — per-language Zipf fit: OLS slope of
  ln(freq) on ln(rank) over the top terms.  The canonical corpus
  health check (natural text sits near slope -1; a drifting slope
  after a filtering step means the filter bent the distribution).
* :func:`quality_logistic_score` — a fixed-weight logistic quality
  model over cheap per-doc features (the shape of fastText-style
  quality classifiers used by CCNet/RefinedWeb, with deterministic
  published weights instead of a trained model, since training is
  out of scope and the OPERATOR is the deliverable).

Determinism discipline (same as the rest of the catalog): feature
hashing rides md5 (`functions/sampling.hash_bucket`, replayable in
any engine), money-free doubles are rounded at the output, and every
rank tie breaks on the term string.

Scale shapes: dsir is one token shuffle to (doc, bucket) grain plus
a B-row broadcast; zipf reduces to (lang, term) grain before its
top-V window; the logistic score is a zero-shuffle scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amazon_books_review_spark.functions.sampling import hash_bucket
from amazon_books_review_spark.functions.text import GOPHER_STOPWORDS
from amazon_books_review_spark.session import materialize
from amazon_books_review_spark.sources.io import load_table

# --- DSIR ------------------------------------------------------------------

#: hashed feature-table size — at 100 TB this stays a broadcast;
#: collisions are part of the method (hashed n-gram features).
DSIR_BUCKETS = 64
DSIR_SALT = "dsir"
#: the target distribution: English docs stand in for "the quality
#: domain we want more of" (DSIR's target corpus input).
DSIR_TARGET_LANG = "en"


def _tokens(docs: DataFrame) -> DataFrame:
    return (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) importance log-weights per document.

    Feature model: word unigrams hashed to ``DSIR_BUCKETS`` buckets
    via md5.  Both distributions are add-1 smoothed over the bucket
    space; a document's weight is the token-count-weighted MEAN of
    per-bucket log ratios (mean, not sum, so long documents are not
    automatically "more target-like").

    Scale: tokens reduce to (doc_id, bucket) grain in ONE token
    shuffle and that grain is checkpointed, so the bucket statistics
    (a single conditional aggregate — raw and target counts in one
    pass) and the scoring join share the materialization instead of
    re-tokenizing the corpus per consumer; the log-ratio table is a
    B-row broadcast.  Nothing grows with corpus size except the
    linear scan — the exact property DSIR was designed for.
    """
    docs = load_table(spark, sf_dir, "documents")
    feat = _tokens(docs).withColumn(
        "bucket", hash_bucket(F.col("term"), DSIR_SALT, DSIR_BUCKETS)
    )
    doc_b = (
        feat.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)  # (docs x <=B) rows; tokenize ONCE
    )
    b_stats = doc_b.groupBy("bucket").agg(
        F.sum("tf").alias("rc"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("tf")).otherwise(0)
        ).alias("tc"),
    )
    spine = (
        spark.range(DSIR_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(b_stats, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("rc", F.lit(0)).alias("rc"),
            F.coalesce("tc", F.lit(0)).alias("tc"),
        )
    )
    totals = spine.agg(
        F.sum("rc").alias("r_total"), F.sum("tc").alias("t_total")
    )
    lam = (
        spine.join(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("tc") + 1) / (F.col("t_total") + DSIR_BUCKETS))
                - F.log((F.col("rc") + 1) / (F.col("r_total") + DSIR_BUCKETS))
            ).alias("lam"),
        )
    )
    return (
        doc_b.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("lam")) / F.sum("tf"), 6
            ).alias("dsir_logweight"),
        )
        .select("doc_id", "lang", "n_tokens", "dsir_logweight")
    )


def _md5_bucket_sql(expr: str, salt: str, buckets: int) -> str:
    """DuckDB twin of sampling.hash_bucket for an arbitrary VARCHAR
    expression: first 7 hex chars of md5(salt|expr), base-16 decoded
    by char-position arithmetic, mod buckets."""
    digit = lambda i: f"(strpos('0123456789abcdef', substr(md5('{salt}|' || {expr}), {i}, 1)) - 1)"  # noqa: E731
    val = digit(1)
    for i in range(2, 8):
        val = f"({val} * 16 + {digit(i)})"
    return f"(({val}) % {buckets})"


DSIR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
), nonempty AS (
    SELECT * FROM tok WHERE term <> ''
), feat AS (
    SELECT doc_id, lang,
           {_md5_bucket_sql('term', DSIR_SALT, DSIR_BUCKETS)} AS bucket
    FROM nonempty
), doc_b AS (
    SELECT doc_id, lang, bucket, count(*) AS tf
    FROM feat GROUP BY doc_id, lang, bucket
), spine AS (
    SELECT g.bucket,
           coalesce(r.rc, 0) AS rc,
           coalesce(t.tc, 0) AS tc
    FROM (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket) g
    LEFT JOIN (SELECT bucket, sum(tf) AS rc FROM doc_b GROUP BY bucket) r
      USING (bucket)
    LEFT JOIN (SELECT bucket, sum(tf) AS tc FROM doc_b
               WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket) t
      USING (bucket)
), totals AS (
    SELECT sum(rc) AS r_total, sum(tc) AS t_total FROM spine
), lam AS (
    SELECT bucket,
           ln((tc + 1) * 1.0 / (t_total + {DSIR_BUCKETS}))
         - ln((rc + 1) * 1.0 / (r_total + {DSIR_BUCKETS})) AS lam
    FROM spine CROSS JOIN totals
)
SELECT d.doc_id, d.lang,
       CAST(sum(d.tf) AS BIGINT) AS n_tokens,
       round(sum(d.tf * l.lam) / sum(d.tf), 6) AS dsir_logweight
FROM doc_b d JOIN lam l USING (bucket)
GROUP BY d.doc_id, d.lang
"""


# --- Zipf fit --------------------------------------------------------------

#: fit over the top-V terms per language (the head is where Zipf is
#: defined; the long tail is finite-corpus noise).
ZIPF_TOP = 100


def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit: OLS slope/intercept of ln(freq) over
    ln(rank) for the ``ZIPF_TOP`` most frequent terms.

    Natural language sits near slope -1 (Zipf's law); the operator's
    job in a pipeline is drift detection — re-run after a filtering
    stage, a slope that moved materially means the filter reshaped
    the token distribution, not just removed documents.

    Determinism: rank ties break on the term string; the OLS sums are
    over exactly ``ZIPF_TOP`` doubles of magnitude ~ln(rank) so the
    final round(6) absorbs summation-order ulps.  Scale: tokens
    reduce to (lang, term) grain before the per-language top-V window
    — the window input is vocabulary-sized, never token-sized.
    """
    tf = (
        _tokens(load_table(spark, sf_dir, "documents"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("term").asc())
    head = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP
    )
    pts = head.select(
        "lang",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
), tf AS (
    SELECT lang, term, count(*) AS freq
    FROM tok WHERE term <> '' GROUP BY lang, term
), head AS (
    SELECT lang, freq,
           row_number() OVER (PARTITION BY lang
                              ORDER BY freq DESC, term ASC) AS rank
    FROM tf QUALIFY rank <= {ZIPF_TOP}
), pts AS (
    SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
    FROM head
), s AS (
    SELECT lang, CAST(count(*) AS DOUBLE) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM pts GROUP BY lang
)
SELECT lang,
       CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
           AS zipf_intercept
FROM s
"""


# --- Logistic quality score ------------------------------------------------

#: Fixed logistic weights over the four cheap features — the shape of
#: a fastText/CCNet quality classifier with deterministic published
#: coefficients (training a model is out of scope; the OPERATOR — a
#: zero-shuffle scoring scan over arbitrary weights — is what ships).
QL_BIAS = -3.0
QL_W_LOG_WORDS = 0.6     # ln(1 + n_words): length helps, saturating
QL_W_MEAN_WLEN = 0.15    # mean word length: mild prior toward prose
QL_W_STOP_FRAC = 6.0     # stopword token fraction: strongest signal
QL_W_ALPHA_FRAC = 1.2    # alphabetic-word fraction
QL_KEEP_THRESHOLD = 0.5


def _ql_quality_prob() -> "F.Column":
    """``round(sigmoid(w . x + b), 6)`` over the fixed feature set of
    :func:`quality_logistic_score`, as a per-row Column over ``text``.

    Shared by the catalog entry and :func:`corpus_filter_funnel` (r20
    fusion) so the funnel's fused projection and the standalone
    operator can never drift — one expression, two call sites.
    """
    words = F.split(F.trim(F.lower("text")), r"\s+")
    n_words = F.size(words).cast("double")
    word_chars = F.expr(
        "aggregate(transform(split(trim(lower(text)), '\\\\s+'), "
        "w -> length(w)), 0L, (a, x) -> a + x)"
    ).cast("double")
    stop_list = ",".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    n_stop = F.expr(
        "size(filter(split(trim(lower(text)), '\\\\s+'), "
        f"w -> w in ({stop_list})))"
    ).cast("double")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("double")
    z = (
        F.lit(QL_BIAS)
        + F.lit(QL_W_LOG_WORDS) * F.log(F.lit(1.0) + n_words)
        + F.lit(QL_W_MEAN_WLEN) * (word_chars / n_words)
        + F.lit(QL_W_STOP_FRAC) * (n_stop / n_words)
        + F.lit(QL_W_ALPHA_FRAC) * (n_alpha / n_words)
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.round(prob, 6)


def quality_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality probability per document.

    Features (all computed in one Catalyst scan, no Python boundary):
    ln(1 + word count), mean word length, stopword-token fraction,
    alphabetic-word fraction.  ``quality_prob = sigmoid(w . x + b)``;
    ``keep = prob >= {thr}``.  Per-row double arithmetic with a final
    round(6) — no aggregation, so no summation-order hazard; the plan
    is a zero-shuffle scan a 100 TB corpus pays once.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    prob_q = _ql_quality_prob()
    return docs.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        prob_q.alias("quality_prob"),
        (prob_q >= QL_KEEP_THRESHOLD).alias("keep"),
    )


if quality_logistic_score.__doc__:  # stripped to None under -OO
    quality_logistic_score.__doc__ = quality_logistic_score.__doc__.format(
        thr=QL_KEEP_THRESHOLD
    )


_QL_STOPS = ",".join(f"'{s}'" for s in GOPHER_STOPWORDS)

QUALITY_LOGISTIC_ORACLE = f"""
WITH d AS (
    SELECT doc_id, lang,
           string_split_regex(trim(lower(text)), '\\s+') AS words
    FROM documents
), f AS (
    SELECT doc_id, lang,
           CAST(len(words) AS DOUBLE) AS n_words,
           CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               AS word_chars,
           CAST(len(list_filter(words, w -> w IN ({_QL_STOPS}))) AS DOUBLE)
               AS n_stop,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
               AS DOUBLE) AS n_alpha
    FROM d
), z AS (
    SELECT doc_id, lang, n_words,
           {QL_BIAS} + {QL_W_LOG_WORDS} * ln(1.0 + n_words)
                     + {QL_W_MEAN_WLEN} * (word_chars / n_words)
                     + {QL_W_STOP_FRAC} * (n_stop / n_words)
                     + {QL_W_ALPHA_FRAC} * (n_alpha / n_words) AS z
    FROM f
)
SELECT doc_id, lang,
       CAST(n_words AS BIGINT) AS n_words,
       round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
       round(1.0 / (1.0 + exp(-z)), 6) >= {QL_KEEP_THRESHOLD} AS keep
FROM z
"""


# --- Weighted sampling without replacement (Efraimidis–Spirakis) ----------

WS_K = 100
WS_SALT = "wsample"
_WS_SPACE = 1 << 48  # md5-derived uniform grid, exact in a double


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme with md5 standing in for the
    random draw: each doc gets key = ln(u) / w for u uniform in
    (0, 1] derived from md5(salt|doc_id) and weight w = its char
    count; the global top-``WS_K`` keys are the sample.  P(selection)
    is exactly the weighted-without-replacement distribution, yet the
    result is a pure function of doc_ids — reproducible across runs,
    partitionings, and engines (``rand()``-free, like every sampler
    in `functions/sampling.py`).

    Determinism: u = (h+1)/2^48 is exact in a double; the ordering
    key is ROUNDED to 12 decimals with a doc_id tie-break so the
    cross-engine sort can never flap on last-ulp ln() differences.

    Scale shape: a global top-k — Spark runs it as per-partition
    partial top-k + single-reducer merge of k candidates
    (TakeOrderedAndProject), never a full sort.  This is the sampler
    a mixture step uses to draw a quality-weighted corpus slice.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(WS_SALT), F.lit("|"), F.col("doc_id").cast("string"))),
            1, 12,
        ),
        16, 10,
    ).cast("long")
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    key = F.round(F.log((h + 1) / F.lit(float(_WS_SPACE))) / w, 12)
    scored = docs.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
        key.alias("es_key"),
    )
    win = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= WS_K)
        .select("doc_id", "lang", "n_chars", "es_key", F.col("rank").cast("long").alias("rank"))
    )


def _ws_hash_sql(expr: str) -> str:
    digit = lambda i: f"(strpos('0123456789abcdef', substr(md5('{WS_SALT}|' || {expr}), {i}, 1)) - 1)"  # noqa: E731
    val = digit(1)
    for i in range(2, 13):
        val = f"({val} * 16 + {digit(i)})"
    return val


WEIGHTED_SAMPLE_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           round(ln(({_ws_hash_sql('CAST(doc_id AS VARCHAR)')} + 1)
                    / {float(_WS_SPACE)})
                 / greatest(CAST(n_chars AS DOUBLE), 1.0), 12) AS es_key
    FROM documents
)
SELECT doc_id, lang, n_chars, es_key,
       row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS rank
FROM scored
QUALIFY rank <= {WS_K}
"""


# --- Character-entropy quality --------------------------------------------

#: docs whose character distribution carries fewer bits than this are
#: flagged (degenerate/repetitive text: "aaaa...", single-char spam,
#: binary-ish runs).  Natural text sits near 4-4.5 bits/char.
CE_MIN_BITS = 2.5


def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution —
    the cheap degenerate-text filter every corpus pipeline runs
    alongside the Gopher rules (CCNet/RefinedWeb both gate on it).

    H = log(n) - (1/n) * sum_c k_c * log(k_c), computed ROW-LOCALLY:
    sort the char array, then one ``aggregate`` pass over equal-runs
    accumulates sum(k * ln k) and the distinct-char count (the same
    sorted-run trick as the Gopher repetition masses,
    functions/text.py:430 — zero shuffle, O(L log L) per row).  The
    whole operator is a map stage: the ideal 100 TB filter shape.

    Determinism note: the run sum adds ~n_distinct doubles.  Spark
    adds them in sorted-char order, DuckDB's GROUP BY in arbitrary
    order, so the low bits can differ — entropy is rounded to 4
    decimals (error ~1e-12, quantum 1e-4) to keep the hash check
    engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    run = _entropy_run_struct()
    n = F.length("text").cast("long")
    ent = _entropy_bits(F.col("text"), F.col("_r.s"))
    return (
        docs.select("doc_id", "text")
        .withColumn("_r", run)
        .select(
            "doc_id",
            n.alias("n_chars"),
            F.col("_r.nd").alias("n_distinct_chars"),
            ent.alias("entropy_bits"),
            (ent < CE_MIN_BITS).alias("low_entropy"),
        )
    )


def _entropy_run_struct() -> "F.Column":
    """The sorted-run fold of :func:`char_entropy_quality` — a struct
    Column (s = sum over runs of k*ln(k), nd = distinct chars) over
    ``text``.  Shared with :func:`corpus_filter_funnel` (r20 fusion):
    one expression, two call sites, zero drift."""
    # split('', '') yields [''] (one empty element) on empty text, which
    # would count as a phantom distinct char; drop empties so an empty
    # document folds over an empty array (nd=0) like the oracle's unnest.
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("runlen"),
        F.lit(0.0).alias("s"),          # sum over runs of k * ln(k)
        F.lit(0).cast("long").alias("nd"),  # distinct chars (runs flushed)
    )

    def merge(acc, c):
        same = acc.prev.isNotNull() & (acc.prev == c)
        return F.struct(
            c.alias("prev"),
            F.when(same, acc.runlen + 1).otherwise(F.lit(1)).cast("long").alias("runlen"),
            F.when(same, acc.s).otherwise(
                acc.s + _k_ln_k(acc.runlen)
            ).alias("s"),
            F.when(same | acc.prev.isNull(), acc.nd)
            .otherwise(acc.nd + 1)
            .cast("long")
            .alias("nd"),
        )

    def finish(acc):
        return F.struct(
            (acc.s + _k_ln_k(acc.runlen)).alias("s"),
            F.when(acc.runlen > 0, acc.nd + 1).otherwise(acc.nd).cast("long").alias("nd"),
        )

    return F.aggregate(F.array_sort(chars), zero, merge, finish)


def _entropy_bits(text_col: "F.Column", s_col: "F.Column") -> "F.Column":
    """round(H, 4) in bits of ``text_col`` from the run fold's ``s``
    field — the exact expression of :func:`char_entropy_quality`,
    parameterized on where the text and the fold's struct live so the
    funnel can reference its own projection."""
    n = F.length(text_col).cast("long")
    return F.round(
        (F.log(n.cast("double")) - s_col / n) / F.lit(float(__import__("math").log(2))),
        4,
    )


def _k_ln_k(k):
    """k * ln(k) with the k=0 initial state mapped to 0."""
    return F.when(k > 0, k.cast("double") * F.log(k.cast("double"))).otherwise(F.lit(0.0))


CHAR_ENTROPY_ORACLE = f"""
WITH ch AS (
    SELECT doc_id,
           unnest(list_transform(range(1, length(text) + 1),
                                 i -> substr(text, CAST(i AS INT), 1))) AS c
    FROM documents
), cnt AS (
    SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
), agg AS (
    SELECT doc_id, sum(k) AS n, count(*) AS nd, sum(k * ln(k)) AS s
    FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct_chars,
       round((ln(a.n) - a.s / a.n) / ln(2), 4) AS entropy_bits,
       round((ln(a.n) - a.s / a.n) / ln(2), 4) < {CE_MIN_BITS} AS low_entropy
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --- Temperature-scaled mixture weights -------------------------------------

#: sampling temperature alpha: q_i ∝ p_i^alpha.  0.3 is the
#: multilingual-LM convention (XLM-R / mT5 lineage) — upsamples the
#: tail languages without flattening the head entirely.
MIX_TEMPERATURE = 0.3
#: resample budget the expected counts are stated against.
MIX_BUDGET = 100_000


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language:
    q_i = p_i^alpha / sum_j p_j^alpha with p_i the corpus share —
    the standard multilingual rebalancing rule (alpha=1 keeps the
    natural distribution, alpha→0 approaches uniform).  Emits, per
    language, the natural share, the tempered weight, the expected
    resample count at ``MIX_BUDGET``, and the upsampling factor —
    the inputs a mixture manifest (mixture_rebalance_corpus) consumes.

    Scale shape: one language-grain aggregate (broadcast-tiny), the
    tempering a scalar cross-join — nothing grows with the corpus
    but the first count scan.  The weight normalization sums one
    double per language; rounded at 6 (error ~1e-15 across ~20
    groups, far under the quantum).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(
            F.pow(F.col("n_docs").cast("double"), F.lit(MIX_TEMPERATURE))
        ).alias("z_raw"),
    )
    # q_i ∝ n_i^a / Z with Z = Σ n_j^a — equal to normalizing p_i^a
    # (the N^a factor cancels), and exact-int bases keep pow inputs
    # identical cross-engine
    p = F.col("n_docs") / F.col("n_total")
    q = F.pow(F.col("n_docs").cast("double"), F.lit(MIX_TEMPERATURE)) / F.col("z_raw")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            F.round(p, 6).alias("p_natural"),
            F.round(q, 6).alias("q_tempered"),
            F.round(q * MIX_BUDGET).cast("long").alias("expected_n"),
            F.round(q / p, 6).alias("upsample_factor"),
        )
    )


TEMPERATURE_MIX_ORACLE = f"""
WITH counts AS (
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), totals AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
           sum(power(CAST(n_docs AS DOUBLE), {MIX_TEMPERATURE})) AS z_raw
    FROM counts
)
SELECT lang, n_docs,
       round(n_docs / CAST(n_total AS DOUBLE), 6) AS p_natural,
       round(power(CAST(n_docs AS DOUBLE), {MIX_TEMPERATURE}) / z_raw, 6)
           AS q_tempered,
       CAST(round(power(CAST(n_docs AS DOUBLE), {MIX_TEMPERATURE}) / z_raw
                  * {MIX_BUDGET}) AS BIGINT) AS expected_n,
       round((power(CAST(n_docs AS DOUBLE), {MIX_TEMPERATURE}) / z_raw)
             / (n_docs / CAST(n_total AS DOUBLE)), 6) AS upsample_factor
FROM counts CROSS JOIN totals
"""


# --- Corpus filter funnel ----------------------------------------------------


def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel: Gopher document rules →
    char-entropy floor → logistic quality cutoff, applied in sequence,
    with per-stage kill counts — the report every corpus release ships
    (how many documents each rule removed, and what survived).

    Fuses the three verdicts into ONE projection over ONE scan (r20,
    guide §2.2/§2.4 — the 100 TB shape the r19 docstring promised):
    each verdict's expression comes from the operator's own shared
    builder (``_entropy_run_struct``/``_entropy_bits``,
    ``_ql_quality_prob``, ``gopher_quality_flags`` with passthrough),
    so the single-source-of-truth discipline holds WITHOUT the two
    doc-grain shuffle joins the r19 composition paid.  The oracle
    still embeds the three operators' full oracle SQL as subqueries
    joined at doc grain — the fused projection must reproduce the
    composed form's rows exactly (each verdict is a per-row
    projection of ``documents``, so the inner joins never dropped or
    duplicated a row; the driver's hash check pins that equivalence).

    On the synthetic corpus the published Gopher stopword rule kills
    every document (the word-salad vocabulary contains only one of
    Gopher's eight stopwords) — so gopher runs LAST and the funnel's
    zero-survivor tail is itself the honest report; the earlier
    stages' pass-throughs stay visible.
    """
    from amazon_books_review_spark.functions.text import gopher_quality_flags
    from amazon_books_review_spark.sources.io import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    ent = _entropy_bits(F.col("text"), F.col("_r.s"))
    scored = (
        docs.select("doc_id", "text")
        .withColumn("_r", _entropy_run_struct())
        .withColumn("e_keep", ~(ent < CE_MIN_BITS))
        .withColumn("q_keep", _ql_quality_prob() >= QL_KEEP_THRESHOLD)
    )
    j = gopher_quality_flags(
        scored, "doc_id", "text", passthrough=("e_keep", "q_keep")
    ).select("doc_id", "e_keep", "q_keep", F.col("keep").alias("g_keep"))
    agg = j.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((~F.col("e_keep")).cast("long")).alias("k1"),
        F.sum((F.col("e_keep") & ~F.col("q_keep")).cast("long")).alias("k2"),
        F.sum(
            (F.col("e_keep") & F.col("q_keep") & ~F.col("g_keep")).cast("long")
        ).alias("k3"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("stage_order"),
                    F.lit("entropy_floor").alias("stage"),
                    F.col("n0").alias("n_in"),
                    F.col("k1").alias("n_killed"),
                    (F.col("n0") - F.col("k1")).alias("n_out"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("stage_order"),
                    F.lit("logistic_cutoff").alias("stage"),
                    (F.col("n0") - F.col("k1")).alias("n_in"),
                    F.col("k2").alias("n_killed"),
                    (F.col("n0") - F.col("k1") - F.col("k2")).alias("n_out"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("stage_order"),
                    F.lit("gopher_rules").alias("stage"),
                    (F.col("n0") - F.col("k1") - F.col("k2")).alias("n_in"),
                    F.col("k3").alias("n_killed"),
                    (F.col("n0") - F.col("k1") - F.col("k2") - F.col("k3")).alias(
                        "n_out"
                    ),
                ),
            )
        ).alias("s")
    ).select("s.stage_order", "s.stage", "s.n_in", "s.n_killed", "s.n_out")


def _funnel_oracle() -> str:
    from amazon_books_review_spark.plans.northstar_queries import GOPHER_ORACLE

    return f"""
WITH gop AS (SELECT doc_id, keep AS g_keep FROM ({GOPHER_ORACLE})),
ent AS (SELECT doc_id, NOT low_entropy AS e_keep FROM ({CHAR_ENTROPY_ORACLE})),
log AS (SELECT doc_id, keep AS q_keep FROM ({QUALITY_LOGISTIC_ORACLE})),
j AS (
    SELECT g.g_keep, e.e_keep, l.q_keep
    FROM gop g JOIN ent e USING (doc_id) JOIN log l USING (doc_id)
), agg AS (
    SELECT count(*) AS n0,
           CAST(sum(CASE WHEN NOT e_keep THEN 1 ELSE 0 END) AS BIGINT) AS k1,
           CAST(sum(CASE WHEN e_keep AND NOT q_keep THEN 1 ELSE 0 END) AS BIGINT) AS k2,
           CAST(sum(CASE WHEN e_keep AND q_keep AND NOT g_keep THEN 1 ELSE 0 END)
               AS BIGINT) AS k3
    FROM j
)
SELECT CAST(1 AS BIGINT) AS stage_order, 'entropy_floor' AS stage,
       n0 AS n_in, k1 AS n_killed, n0 - k1 AS n_out FROM agg
UNION ALL
SELECT 2, 'logistic_cutoff', n0 - k1, k2, n0 - k1 - k2 FROM agg
UNION ALL
SELECT 3, 'gopher_rules', n0 - k1 - k2, k3, n0 - k1 - k2 - k3 FROM agg
"""


SELECTION_QUERIES = [
    ("dsir_importance_weights", dsir_importance_weights, DSIR_ORACLE,
     "DSIR (Xie et al. 2023): hashed-feature importance log-weights vs a target domain"),
    ("zipf_slope_by_lang", zipf_slope_by_lang, ZIPF_ORACLE,
     "per-language Zipf OLS fit over the top-100 terms (distribution drift probe)"),
    ("quality_logistic_score", quality_logistic_score, QUALITY_LOGISTIC_ORACLE,
     "fixed-weight logistic quality probability, zero-shuffle scoring scan"),
    ("weighted_sample_docs", weighted_sample_docs, WEIGHTED_SAMPLE_ORACLE,
     "Efraimidis-Spirakis weighted sampling w/o replacement, md5-deterministic global top-k"),
    ("char_entropy_quality", char_entropy_quality, CHAR_ENTROPY_ORACLE,
     "per-doc character Shannon entropy, zero-shuffle sorted-run scan (degenerate-text filter)"),
    ("temperature_mixture_weights", temperature_mixture_weights, TEMPERATURE_MIX_ORACLE,
     "temperature-scaled (p^alpha) language sampling weights + expected resample counts"),
    ("corpus_filter_funnel", corpus_filter_funnel, _funnel_oracle(),
     "end-to-end curation funnel: gopher -> entropy -> logistic, per-stage kill counts"),
]
