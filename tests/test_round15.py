"""Round-15 regression tests: sf1_bench argument validation and the
bitext-kmeans oracle-parity scale guard (ADVICE r14 medium)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parents[1]


# ---------------------------------------------------------------------------
# ADVICE r14 low: sf1_bench rejects unknown query names
# ---------------------------------------------------------------------------

def test_sf1_bench_rejects_unknown_query_names(tmp_path):
    """A typo'd query name (or queries passed without the out.json
    first argument) must exit nonzero before any Spark work, not
    silently run a wrong subset."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "sf1_bench.py"),
         str(tmp_path / "out.json"), "definitely_not_a_query"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "definitely_not_a_query" in (proc.stderr + proc.stdout)


# ---------------------------------------------------------------------------
# ADVICE r14 medium: the bitext k-means oracle replays the EXACT brute
# n x k routing; the engine switches to approximate routed assignment
# at k >= KM_ROUTE_MIN_K.  Parity holds only while every verification
# corpus derives k BELOW that bound — pin it against the actual
# parquet footers so a fixture growth breaks loudly here, not as a
# silent oracle divergence.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("sf_dir", ["sf0.001", "sf0.01", "sf0.1"])
def test_bitext_kmeans_parity_corpora_stay_below_route_bound(sf_dir):
    from amazon_books_review_spark.plans.northstar_queries import (
        BITEXT_KM_KMAX,
        BITEXT_KM_KMIN,
        BITEXT_KM_OCC,
    )
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KM_ROUTE_MIN_K,
        km_k_for,
    )

    path = Path("/root/testdata") / sf_dir / "embeddings.parquet"
    if not path.exists():
        pytest.skip(f"{path} absent in this environment")
    n = pq.read_metadata(path).num_rows
    k = km_k_for(n, BITEXT_KM_OCC, k_min=BITEXT_KM_KMIN, k_max=BITEXT_KM_KMAX)
    assert k < KM_ROUTE_MIN_K, (
        f"{sf_dir}: derived k={k} >= KM_ROUTE_MIN_K={KM_ROUTE_MIN_K} — "
        "the engine would route approximately while the DuckDB oracle "
        "replays exact brute assignment; shrink the fixture or raise "
        "KM_ROUTE_MIN_K with an oracle widening"
    )


# ---------------------------------------------------------------------------
# VERDICT r14 #4: capacity constants derive from declared targets
# ---------------------------------------------------------------------------

def test_n_tables_for_union_recall_rule():
    from amazon_books_review_spark.functions.similarity import n_tables_for

    # the shipped near-dup config: 85% target at the audited ~7%/table
    assert n_tables_for(85, 7) == 27
    # the union inequality against the r14 measured buy-back points
    # (42/70/87% at T=8/16/24, sf0.1): the integer rule must agree
    # with the float formula's predictions to the integer
    for target, expected in ((40, 8), (68, 16), (82, 24)):
        assert n_tables_for(target, 7) == expected, (target, expected)
    # a single perfect table
    assert n_tables_for(100, 100) == 1
    # clamp: recall approaches 1 geometrically, T grows without bound
    assert n_tables_for(99, 1, t_max=64) == 64
    with pytest.raises(ValueError):
        n_tables_for(85, 0)
    with pytest.raises(ValueError):
        n_tables_for(101, 7)
    with pytest.raises(ValueError):
        n_tables_for(85, 7, t_min=5, t_max=4)


def test_capacity_constants_match_their_derivations():
    """The shipped constants ARE their derivations — a drive-by edit
    to either side (constant or rule) breaks here, keeping the
    self-sizing story honest."""
    from amazon_books_review_spark.functions.similarity import n_tables_for
    from amazon_books_review_spark.plans import northstar_queries as nq

    # the r14-audited single-table rate (~7% at b=6) reproduces the
    # pre-multiprobe derivation the measured history is written in
    assert n_tables_for(nq.NEARDUP_LSH_TARGET_RECALL_PCT, 7) == 27
    # the shipped per-plane-count lookup (Hamming-1 multiprobe,
    # derived at floor + model-error margin): parity corpora run
    # b=4 -> T=3, sf0.1 runs b=6 -> T=7, sf1's b=10 -> T=27; the
    # clamp binds from b=11 (~65k vectors at occ 32)
    from amazon_books_review_spark.functions.similarity import (
        lsh_tables_by_planes,
    )

    assert nq.NEARDUP_LSH_T_BY_B == lsh_tables_by_planes(
        nq.COSINE_DUP_THRESHOLD,
        nq.NEARDUP_LSH_TARGET_RECALL_PCT + nq.NEARDUP_LSH_DERIVATION_MARGIN_PCT,
        probe_bits=nq.NEARDUP_LSH_PROBE_BITS,
        min_planes=nq.NEARDUP_LSH_MIN_PLANES,
        max_planes=nq.NEARDUP_LSH_MAX_PLANES,
        max_tables=nq.NEARDUP_LSH_MAX_TABLES,
    )
    assert nq.NEARDUP_LSH_T_BY_B[4] == 3
    assert nq.NEARDUP_LSH_T_BY_B[6] == 7
    assert nq.NEARDUP_LSH_T_BY_B[10] == 27
    assert nq.NEARDUP_LSH_T_BY_B[11] == nq.NEARDUP_LSH_MAX_TABLES
    # top-k tier: candidate-oversampling rule, ceil(3*5/8) = 2 — the
    # value the 2-table oracle replay inlines
    assert nq.LSH_TABLES == -(
        -nq.LSH_TOPK_CAND_FACTOR * nq.TOPK_K // nq.LSH_TOPK_OCC
    ) == 2


def test_neardup_lsh_audit_meets_declared_recall_target(spark):
    """The derived multiprobe config (b-aware T, Hamming-1 probing)
    must MEET the declared 85% target on the parity corpus (measured
    r15: 100/100 at sf0.001-0.01, 90/100 at sf0.1, 93.4 sampled at
    sf1 — vs 35.7 at sf1 for the fixed-T no-probe config) — the
    audit row is the acceptance test the derivation exists for."""
    from amazon_books_review_spark.plans.northstar_queries import (
        NEARDUP_LSH_TARGET_RECALL_PCT,
        neardup_lsh_recall_audit,
    )

    path = Path("/root/testdata/sf0.001")
    if not (path / "embeddings.parquet").exists():
        pytest.skip(f"{path} absent in this environment")
    (row,) = neardup_lsh_recall_audit(spark, str(path)).collect()
    assert row["recall_pct"] >= NEARDUP_LSH_TARGET_RECALL_PCT, row
    assert row["precision_pct"] == 100, row


# ---------------------------------------------------------------------------
# VERDICT r14 #5: the oracle-replay plane ceiling is an explicit,
# TESTED contract — and r15 LIFTED it for the top-k and near-dup
# families (MAX_PLANES 16 -> 24: the DuckDB replay inlines MAX_PLANES
# hyperplanes per table and masks down sig % 2^b, so the constant IS
# the self-sizing ceiling).  The clamp now binds at ~2^24 * occupancy
# (~537M vectors for near-dup) instead of ~2M; engine behavior below
# the old ceiling is identical, which is what prefix-stability buys.
# ---------------------------------------------------------------------------

def test_lsh_planes_engine_ceiling_is_raisable():
    from amazon_books_review_spark.functions.similarity import lsh_planes_for
    from amazon_books_review_spark.plans import northstar_queries as nq

    # the r15 catalog setting: clamp bound moved past half a billion
    # vectors at the near-dup occupancy
    assert nq.NEARDUP_LSH_MAX_PLANES == nq.LSH_TOPK_MAX_PLANES == 24
    n_beyond_old = (1 << 16) * 32 * 10  # where the r14 ceiling bound
    assert lsh_planes_for(n_beyond_old, 32, max_planes=24) == 20  # keeps sizing
    # widening changes nothing below the old ceiling (the derivation
    # returns the same b — the engine-behavior-identical claim)
    for n in (500, 2000, 20_000, 200_000):
        assert lsh_planes_for(n, 32, max_planes=24) == lsh_planes_for(
            n, 32, max_planes=16
        )
    # and the engine API still takes any production setting
    assert lsh_planes_for(10**9, 32, max_planes=32) == 25


def test_plane_family_is_prefix_stable_for_oracle_widening():
    """Widening the replay family (16 -> 24 planes per table) must not
    change the first 16 planes: plane p depends only on (table, p,
    dim), which is exactly what lets a masked wider signature equal
    the narrower signature — the property the whole self-sizing
    oracle replay rests on, and the property that makes lifting the
    ceiling a pure SQL-side widening later."""
    from amazon_books_review_spark.functions.similarity import (
        deterministic_planes,
    )

    for table in (0, 3):
        narrow = deterministic_planes(16, 64, table)
        wide = deterministic_planes(24, 64, table)
        assert wide[:16] == narrow


def test_bitext_lsh_candidates_hold_recall(spark):
    """The r16 lead, validated in-engine this round: margin mining
    over sign-LSH multiprobe candidates holds recall FLAT across
    scale (measured 89/85/87% at n=500/2k/8k, precision 84-88) where
    the kmeans-cells tier decays 96/58/22% — collision probability is
    a direct function of the pair angle, which is exactly the
    co-location signal coarse cells lack at pair similarity ~0.5 in
    64 dims (PERF.md r15 finding 8's decomposition).  Floor pinned
    below the measured band; the margin tail is shared and was
    proven lossless on covered pairs."""
    from pyspark.sql import functions as F

    from amazon_books_review_spark.functions import similarity
    from amazon_books_review_spark.plans.northstar_queries import (
        BITEXT_K,
        BITEXT_MARGIN,
        EMB_DIM,
    )

    path = Path("/root/testdata/sf0.001/embeddings.parquet")
    if not path.exists():
        pytest.skip(f"{path} absent in this environment")
    emb = spark.read.parquet(str(path))
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    b = similarity.lsh_planes_for(tgt.count(), 32)
    T = similarity.lsh_tables_by_planes(0.5, 90, probe_bits=1)[b]
    exact = similarity.margin_bitext_pairs(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    ).select("src_id", "tgt_id")
    lsh = similarity.margin_bitext_pairs_lsh(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
        n_planes=b, n_tables=T, dim=EMB_DIM, probe_bits=1,
    ).select("src_id", "tgt_id")
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_hit = exact.join(lsh, ["src_id", "tgt_id"]).count()
    assert n_exact > 0
    assert n_hit * 100 // n_exact >= 75, (n_exact, n_lsh, n_hit)
    assert n_hit * 100 // max(1, n_lsh) >= 75, (n_exact, n_lsh, n_hit)
