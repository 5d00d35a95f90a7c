"""Round-20 OPTIMIZATION invariants: every rewrite in this round must
be output-identical to the shape it replaced (the driver re-hashes all
declared queries; these are the fast local pins of that contract)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE


def test_kcenter_arrow_arm_matches_distributed_loop(spark):
    """r20: kcenter_coreset collapses the K argmax driver syncs into
    one Arrow fetch when the footer row count fits the cap.  Both arms
    must replay the identical Gonzalez traversal — force the
    distributed loop with a zero cap and compare row-for-row."""
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KC_ARROW_MAX_ROWS_CONF,
        kcenter_coreset,
    )

    arrow = sorted(map(tuple, kcenter_coreset(spark, SF_SMOKE).collect()))
    spark.conf.set(KC_ARROW_MAX_ROWS_CONF, "0")
    try:
        dist = sorted(map(tuple, kcenter_coreset(spark, SF_SMOKE).collect()))
    finally:
        spark.conf.unset(KC_ARROW_MAX_ROWS_CONF)
    assert arrow == dist


@pytest.mark.parametrize("layout", ["nested", "garbage_footer"])
def test_kcenter_unknown_row_count_takes_distributed_loop(
    spark, tmp_path, monkeypatch, layout
):
    """The Arrow arm is taken only on a footer count it can trust.  A
    hive-partitioned directory sums to 0 footer rows and a corrupt
    ``*.parquet`` footer raises ArrowInvalid; both must fall through
    to the distributed loop and give the flat layout's rows.  (Spark
    skips ``_``-prefixed files, so the garbage file is invisible to
    the scan but not to the footer sum.)"""
    import shutil
    from pathlib import Path

    from amazon_books_review_spark.plans import scale_ops_queries as sq

    flat = sorted(map(tuple, sq.kcenter_coreset(spark, SF_SMOKE).collect()))
    src = Path(SF_SMOKE) / "embeddings.parquet"
    table = tmp_path / "embeddings.parquet"
    if layout == "nested":
        (table / "bucket=0").mkdir(parents=True)
        shutil.copy(src, table / "bucket=0" / "part-0.parquet")
    else:
        table.mkdir()
        shutil.copy(src, table / "part-0.parquet")
        (table / "_garbage.parquet").write_bytes(b"not a parquet footer")

    def no_arrow(_tbl):
        raise AssertionError("Arrow arm taken on an unknown row count")

    monkeypatch.setattr(sq, "_kcenter_greedy_driver", no_arrow)
    got = sorted(map(tuple, sq.kcenter_coreset(spark, str(tmp_path)).collect()))
    assert got == flat


def test_funnel_fusion_matches_composed_form(spark):
    """r20: corpus_filter_funnel fuses the three verdict scans into one
    projection (two doc-grain shuffle joins removed).  The fused rows
    must equal the r19 composed form — three operator calls joined at
    doc grain — computed here from the SAME operators."""
    from amazon_books_review_spark.functions.text import gopher_quality_flags
    from amazon_books_review_spark.plans.selection_queries import (
        char_entropy_quality,
        corpus_filter_funnel,
        quality_logistic_score,
    )
    from amazon_books_review_spark.sources.io import load_table

    got = sorted(map(tuple, corpus_filter_funnel(spark, SF_SMOKE).collect()))

    docs = load_table(spark, SF_SMOKE, "documents")
    g = gopher_quality_flags(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("g_keep")
    )
    e = char_entropy_quality(spark, SF_SMOKE).select(
        "doc_id", (~F.col("low_entropy")).alias("e_keep")
    )
    q = quality_logistic_score(spark, SF_SMOKE).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    j = g.join(e, "doc_id").join(q, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((~F.col("e_keep")).cast("long")).alias("k1"),
        F.sum((F.col("e_keep") & ~F.col("q_keep")).cast("long")).alias("k2"),
        F.sum(
            (F.col("e_keep") & F.col("q_keep") & ~F.col("g_keep")).cast("long")
        ).alias("k3"),
    ).first()
    n0, k1, k2, k3 = agg["n0"], agg["k1"], agg["k2"], agg["k3"]
    want = sorted(
        [
            (1, "entropy_floor", n0, k1, n0 - k1),
            (2, "logistic_cutoff", n0 - k1, k2, n0 - k1 - k2),
            (3, "gopher_rules", n0 - k1 - k2, k3, n0 - k1 - k2 - k3),
        ]
    )
    assert got == want


def test_funnel_plan_single_scan_no_joins(spark):
    """The fused funnel must read `documents` ONCE and carry no
    doc-grain join: one scan node, zero SortMergeJoin/BroadcastHashJoin
    (the r19 composition had 3 scans + 2 joins)."""
    import contextlib
    import io

    from amazon_books_review_spark.plans.selection_queries import (
        corpus_filter_funnel,
    )

    df = corpus_filter_funnel(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # each scan node prints twice in formatted output (tree + details)
    assert plan.count("Scan parquet") == 2, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan, f"{node} reappeared in the fused funnel"


def test_gopher_passthrough_columns_preserved(spark):
    """gopher_quality_flags(passthrough=...) must carry the named input
    columns through unchanged and leave the default projection
    identical to the no-passthrough call."""
    from amazon_books_review_spark.functions.text import gopher_quality_flags

    df = spark.createDataFrame(
        [(1, "the quick brown fox and the dog", 7.5)],
        "doc_id long, text string, extra double",
    )
    base = gopher_quality_flags(df, "doc_id", "text")
    assert "extra" not in base.columns
    through = gopher_quality_flags(df, "doc_id", "text", passthrough=("extra",))
    assert through.columns[:2] == ["doc_id", "extra"]
    row = through.first()
    assert row["extra"] == 7.5
    assert (
        base.drop("doc_id").collect()
        == through.drop("doc_id", "extra").collect()
    )


def test_labelprop_round_single_exchange(spark):
    """r20 EXP7: one src-keyed repartition must serve BOTH of the
    label-prop round's aggregates — hash(src) satisfies the clustered
    distribution of groupBy(src, lbl) AND groupBy(src), so a round
    plans exactly ONE Exchange node (it used to plan two)."""
    import contextlib
    import io
    import re

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    ).localCheckpoint(eager=True)
    adopted = (
        edges.select("src", F.col("dst").alias("lbl"))
        .repartition("src")
        .groupBy("src", "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("src")
        .agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias(
                "best"
            )
        )
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adopted.explain("formatted")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", buf.getvalue()))
    assert n_exchange == 1, buf.getvalue()
