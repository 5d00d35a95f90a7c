"""Round-13 additions: stdlib PNG full decode (VERDICT r12 #5), the
position-weighted luma stat that makes pixel order oracle-observable
(ADVICE r12), and the solo-lane small-query fairness fix."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from amazon_books_review_spark.functions import multimodal


def _ref_png(w: int, h: int, pix_topdown: np.ndarray, filters=None) -> bytes:
    """Hand-rolled reference PNG writer (independent of the engine's
    mint stage): 8-bit truecolor, per-row filter types as given
    (default all 0 = None), single IDAT."""
    filters = filters if filters is not None else [0] * h
    scan = bytearray()
    prior = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        row = pix_topdown[y].reshape(-1).astype(np.int32)
        f = filters[y]
        scan.append(f)
        scan.extend(
            multimodal._png_filter_row(f, row, prior, 3)
            .astype(np.uint8)
            .tobytes()
        )
        prior = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )


def test_parse_png_roundtrip_all_filters():
    rng = np.random.default_rng(13)
    pix = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # h=5, w=7
    parsed = multimodal.parse_png(_ref_png(7, 5, pix, filters=[0, 1, 2, 3, 4]))
    assert parsed is not None
    w, h, got = parsed
    assert (w, h) == (7, 5)
    assert np.array_equal(got, pix)


def test_parse_png_filter_inverse_property():
    """Every filter type is an exact inverse pair on random scanlines
    (incl. the Paeth predictor's tie-breaking)."""
    rng = np.random.default_rng(99)
    for _ in range(20):
        n = int(rng.integers(3, 60)) * 3
        row = rng.integers(0, 256, size=n).astype(np.int32)
        prior = rng.integers(0, 256, size=n).astype(np.int32)
        for f in range(5):
            filt = multimodal._png_filter_row(f, row, prior, 3)
            back = multimodal._png_unfilter_row(f, filt, prior, 3)
            assert np.array_equal(back, row), f"filter {f} not inverted"


def test_parse_png_property_roundtrip_random_images():
    """Hypothesis-style property (deterministic seeds): arbitrary
    image sizes and filter assignments roundtrip exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        filters = [int(x) for x in rng.integers(0, 5, size=h)]
        parsed = multimodal.parse_png(_ref_png(w, h, pix, filters=filters))
        assert parsed is not None
        got_w, got_h, got = parsed
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(got, pix)

    check()


def test_parse_png_multiple_idat_chunks():
    """The spec allows the compressed stream to split across any
    number of IDAT chunks; the parser must concatenate before
    inflating."""
    rng = np.random.default_rng(21)
    pix = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    single = _ref_png(5, 4, pix)
    idat_at = single.index(b"IDAT")
    (length,) = struct.unpack(">I", single[idat_at - 4 : idat_at])
    payload = single[idat_at + 4 : idat_at + 4 + length]
    head = single[: idat_at - 4]
    tail = single[idat_at + 8 + length :]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    mid = len(payload) // 2
    split = head + chunk(b"IDAT", payload[:mid]) + chunk(
        b"IDAT", payload[mid:]
    ) + tail
    parsed = multimodal.parse_png(split)
    assert parsed is not None
    assert np.array_equal(parsed[2], pix)


def test_parse_png_rejects_bad_crc_and_wrong_shape():
    pix = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _ref_png(2, 2, pix)
    assert multimodal.parse_png(good) is not None
    # flip one IDAT payload byte -> CRC fails -> reject
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 5] ^= 0xFF
    assert multimodal.parse_png(bytes(bad)) is None
    # not a PNG at all
    assert multimodal.parse_png(b"BM" + b"\x00" * 64) is None
    # interlaced / wrong color type rejected (honest codec boundary)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)  # RGBA

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rgba = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    assert multimodal.parse_png(rgba) is None


def test_luma_posw_catches_vertical_flip():
    """ADVICE r12: channel sums / max are permutation-invariant, so a
    decoder that skips the BMP bottom-up flip passes them; the
    position-weighted luma must differ for a flipped image (the gap
    the stat exists to close)."""
    rng = np.random.default_rng(5)
    pix = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    flipped = pix[::-1]

    def stats(p):
        p64 = p.astype(np.int64)
        luma = (299 * p64[:, :, 2] + 587 * p64[:, :, 1] + 114 * p64[:, :, 0]) // 1000
        pos = np.arange(luma.size, dtype=np.int64)
        return (
            int(p64.sum()),
            int(luma.max()),
            int((pos * luma.reshape(-1)).sum()),
        )

    s_ok, s_flip = stats(pix), stats(flipped)
    assert s_ok[0] == s_flip[0] and s_ok[1] == s_flip[1]  # invariant stats blind
    assert s_ok[2] != s_flip[2]  # posw sees the flip


def test_png_pixel_stats_match_bmp_on_same_ids(spark):
    """The PNG mint + decode path reports the SAME stats as the BMP
    path for the same ids (shared generative formula), format tag
    aside — i.e. the compressed codec roundtrip is lossless."""
    df = spark.createDataFrame([(i,) for i in range(1, 12)], "doc_id long")
    bmp = {
        r["doc_id"]: r.asDict()
        for r in multimodal.decode_pixel_stats(
            multimodal.make_bmp_payload(df, "doc_id"), "doc_id"
        ).collect()
    }
    png = {
        r["doc_id"]: r.asDict()
        for r in multimodal.decode_pixel_stats(
            multimodal.make_png_payload(df, "doc_id"), "doc_id"
        ).collect()
    }
    assert set(bmp) == set(png) == set(range(1, 12))
    for i in bmp:
        assert bmp[i]["format"] == "bmp" and png[i]["format"] == "png"
        for k in ("width", "height", "n_pixels", "sum_r", "sum_g",
                  "sum_b", "max_luma", "luma_posw"):
            assert bmp[i][k] == png[i][k], (i, k)


def test_png_mint_exercises_all_filter_types(spark):
    """The fixture mint cycles filter types 0-4 so the unfilter path
    is genuinely exercised — verify by parsing the minted bytes."""
    df = spark.createDataFrame([(9,)], "doc_id long")  # h = 9%7+3 = 5 rows
    (row,) = multimodal.make_png_payload(df, "doc_id").collect()
    b = bytes(row["payload"])
    idat_at = b.index(b"IDAT")
    (length,) = struct.unpack(">I", b[idat_at - 4 : idat_at])
    raw = zlib.decompress(b[idat_at + 4 : idat_at + 4 + length])
    w, h = 9 % 13 + 4, 9 % 7 + 3
    stride = w * 3 + 1
    filters = [raw[y * stride] for y in range(h)]
    assert filters == [y % 5 for y in range(h)]


def test_decode_pixel_stats_strict_still_rejects_unknown(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"GIF89a" + b"\x00" * 60), "image/gif")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="NotImplementedError|imaging"):
        multimodal.decode_pixel_stats(df, "doc_id", strict=True).collect()


def _emb_rows(n: int, dim: int = 6, seed: int = 11):
    rng = np.random.default_rng(seed)
    return [
        (i, i % 3, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]


def test_signature_cell_range_and_determinism(spark):
    from pyspark.sql import functions as F

    from amazon_books_review_spark.functions import similarity

    df = spark.createDataFrame(
        _emb_rows(40), "vec_id long, label int, embedding array<double>"
    )
    cells = df.select(
        similarity.signature_cell(F.col("embedding"), 6, 3).alias("cell")
    )
    vals = [r["cell"] for r in cells.collect()]
    assert all(0 <= v < 8 for v in vals)
    assert vals == [r["cell"] for r in cells.collect()]  # deterministic


def test_hard_negatives_cells_contract(spark):
    """Cells tier keeps the exact tier's contract: no same-label
    neighbor, nothing at/above the cap, dense ranks by sim desc."""
    from amazon_books_review_spark.functions import similarity

    df = spark.createDataFrame(
        _emb_rows(40), "vec_id long, label int, embedding array<double>"
    )
    probes = df.filter("vec_id < 3")
    out = similarity.hard_negatives_cells(
        df, probes, "vec_id", "embedding", "label",
        dim=6, k=4, max_sim=0.95, nprobe=2, n_planes=3,
    ).collect()
    assert out
    by_q = {}
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        assert r["sim"] < 0.95
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert len(rows) <= 4


def test_hard_negatives_cells_full_nprobe_equals_exact(spark):
    """Routing to ALL cells (nprobe = 2^n_planes) makes the candidate
    set the whole different-label corpus, so the cells tier must equal
    the exact tier row for row — the approximation is ONLY the cell
    bound, never the scoring tail."""
    from amazon_books_review_spark.functions import similarity

    df = spark.createDataFrame(
        _emb_rows(40, seed=7), "vec_id long, label int, embedding array<double>"
    )
    probes = df.filter("vec_id < 4")
    exact = similarity.hard_negatives(
        df, probes, "vec_id", "embedding", "label", k=3, max_sim=0.95
    )
    cells = similarity.hard_negatives_cells(
        df, probes, "vec_id", "embedding", "label",
        dim=6, k=3, max_sim=0.95, nprobe=8, n_planes=3,
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    e = sorted((r.asDict() for r in exact.collect()), key=key)
    c = sorted((r.asDict() for r in cells.collect()), key=key)
    assert e == c


def test_bitext_recall_audit_invariants(spark):
    """n_hit bounded by both tiers; integer percentages consistent."""
    from amazon_books_review_spark.plans.northstar_queries import (
        bitext_cells_recall_audit,
    )

    (row,) = bitext_cells_recall_audit(spark, "/root/testdata/sf0.001").collect()
    assert 0 <= row["n_hit"] <= min(row["n_exact"], row["n_cells"])
    assert row["recall_pct"] == row["n_hit"] * 100 // row["n_exact"]
    assert row["precision_pct"] == row["n_hit"] * 100 // row["n_cells"]


def test_hard_negatives_cells_plan_never_forces_probe_broadcast(spark):
    """The scale claim in code: the candidate join on the cell id
    carries NO broadcast hint.  At sf0.001 the cost-based optimizer
    legitimately broadcasts the tiny probe_cells side, so the
    testable invariant is counterfactual: with auto-broadcast
    disabled the join must degrade to a shuffle join — a forced
    ``F.broadcast(probe_cells)`` (the r12 scale hole) would survive
    the conf and keep a BroadcastHashJoin on the cell id."""
    import contextlib
    import io
    import re

    from amazon_books_review_spark.plans.catalog import all_queries

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["hard_negative_mining_cells"](
            spark, "/root/testdata/sf0.001"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert re.search(r"SortMergeJoin|ShuffledHashJoin", plan), plan
    assert "BroadcastHashJoin" not in plan, plan
    # the centroid routing cross-join stays an explicit broadcast
    # (2^n_planes rows, deliberate) even with auto-broadcast off
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bitext_kmeans_recall_no_worse_than_label_cells(spark):
    """The quantizer-quality claim, asserted: routing bitext cells
    over LEARNED k-means clusters (geometry) must recall at least as
    many exact-tier pairs as the label-cell tier (metadata) — and
    with the nprobe=8 source multi-assignment (r15, measured off the
    2/4/8 curve: 50/74/96% recall at sf0.01) the bound is a hard
    FLOOR, not just no-worse-than (VERDICT r13 #2 / r14 #6).  The
    floor sits below the 96/96 measured point to absorb fixture
    regeneration, but far above the nprobe=2 ceiling (50) so losing
    probe width -- or the multiprobe entirely -- fails loudly."""
    from amazon_books_review_spark.plans.northstar_queries import (
        bitext_cells_recall_audit,
        bitext_kmeans_recall_audit,
    )

    sf = "/root/testdata/sf0.01"
    (label_row,) = bitext_cells_recall_audit(spark, sf).collect()
    (km_row,) = bitext_kmeans_recall_audit(spark, sf).collect()
    assert km_row["n_exact"] == label_row["n_exact"]
    assert km_row["recall_pct"] >= label_row["recall_pct"]
    assert km_row["recall_pct"] >= 85, km_row
    assert km_row["precision_pct"] >= 85, km_row


def test_pcm_posw_catches_sample_reversal():
    """count/sum/peak are permutation-invariant over samples; the
    position-weighted sum must differ for reversed sample order."""
    s = np.array([3, 1, 4, 1, 5, 9, 2, 6], dtype=np.int64)
    r = s[::-1]
    assert s.sum() == r.sum() and np.abs(s).max() == np.abs(r).max()
    idx = np.arange(s.size, dtype=np.int64)
    assert (idx * s).sum() != (idx * r).sum()


def test_gen_sf_matches_fitted_distributions(tmp_path):
    """scripts/gen_sf.py's claim is DISTRIBUTION match with the real
    testdata family — pin the fitted parameters so a drive-by edit
    can't silently unfit the generator the sf1 bench trusts."""
    import duckdb

    from scripts.gen_sf import generate

    out = tmp_path / "sf001"
    generate(0.01, out, seed=7)
    con = duckdb.connect()
    q = lambda sql: con.execute(  # noqa: E731
        sql.replace("T/", f"'{out}/")
    ).fetchone()
    # row-count scaling (exact)
    assert q("SELECT count(*) FROM read_parquet(T/customer.parquet')")[0] == 1500
    assert q("SELECT count(*) FROM read_parquet(T/orders.parquet')")[0] == 15000
    assert q("SELECT count(*) FROM read_parquet(T/documents.parquet')")[0] == 500
    assert q("SELECT count(*) FROM read_parquet(T/embeddings.parquet')")[0] == 500
    # lineitem ~ Poisson(4.0) per order: mean within 3%
    n_li = q("SELECT count(*) FROM read_parquet(T/lineitem.parquet')")[0]
    assert abs(n_li / 15000 - 4.0) < 0.12
    # join domains
    assert q(
        "SELECT max(o_custkey) FROM read_parquet(T/orders.parquet')"
    )[0] <= 1499
    assert q(
        "SELECT count(DISTINCT user_id) FROM read_parquet(T/events.parquet')"
    )[0] <= 150
    # value ranges the catalog queries filter on
    lo, hi = q(
        "SELECT min(l_discount), max(l_discount) FROM read_parquet(T/lineitem.parquet')"
    )
    assert 0.0 <= lo and hi <= 0.1
    segs = q(
        "SELECT count(DISTINCT c_mktsegment) FROM read_parquet(T/customer.parquet')"
    )[0]
    assert segs == 5
    # embeddings unit-norm
    nrm = q(
        "SELECT avg(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])))"
        " FROM read_parquet(T/embeddings.parquet')"
    )[0]
    assert abs(nrm - 1.0) < 1e-6
    # document vocabulary is the fitted 31-word set
    nvocab = q(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w"
        " FROM read_parquet(T/documents.parquet'))"
    )[0]
    assert nvocab <= 31


def test_decontam_hashed_equals_exact_tier(spark):
    """The hashed prefilter is an internal optimization: with exact
    verification of candidates, the output must equal the exact tier
    row for row — hash collisions can thin candidates, never flags."""
    from amazon_books_review_spark.plans.traindata_queries import (
        decontam_against_eval,
        decontam_hashed_prefilter,
    )

    sf = "/root/testdata/sf0.001"
    key = lambda r: r["doc_id"]  # noqa: E731
    exact = sorted((r.asDict() for r in decontam_against_eval(spark, sf).collect()), key=key)
    hashed = sorted((r.asDict() for r in decontam_hashed_prefilter(spark, sf).collect()), key=key)
    assert exact == hashed
    assert any(r["contaminated"] for r in exact)  # flag genuinely exercised
