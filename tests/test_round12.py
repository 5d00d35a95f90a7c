"""Round-12 additions: REAL BMP pixel decode + WAV PCM sample decode
(the r10/r11 'multimodal pixel decode stubbed' carry-over), plus the
bench's ingest re-layout."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from amazon_books_review_spark.functions import multimodal


def _bmp(w: int, h: int, pix_topdown: np.ndarray, top_down: bool = False) -> bytes:
    """Hand-rolled reference BMP writer (independent of the engine's
    Catalyst builder): BI_RGB 24-bit, BGR channel order."""
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = pix_topdown[y].tobytes()
        rows.append(row + b"\x00" * (stride - w * 3))
    body = b"".join(rows)
    h_field = -h if top_down else h
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h_field, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    )
    return header + body


def test_parse_bmp_roundtrip_bottom_up():
    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)  # h=3, w=5
    parsed = multimodal.parse_bmp(_bmp(5, 3, pix))
    assert parsed is not None
    w, h, got = parsed
    assert (w, h) == (5, 3)
    # decoder must undo the bottom-up file order and strip row padding
    assert np.array_equal(got, pix)


def test_parse_bmp_top_down_negative_height():
    rng = np.random.default_rng(8)
    pix = rng.integers(0, 256, size=(2, 4, 3), dtype=np.uint8)
    parsed = multimodal.parse_bmp(_bmp(4, 2, pix, top_down=True))
    assert parsed is not None
    assert np.array_equal(parsed[2], pix)


def test_parse_bmp_rejects_non_bmp_and_truncated():
    assert multimodal.parse_bmp(b"GIF89a" + b"\x00" * 48) is None
    rng = np.random.default_rng(9)
    pix = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    full = _bmp(2, 2, pix)
    assert multimodal.parse_bmp(full[:-1]) is None  # short pixel array
    # 8-bit palette BMP: bpp != 24 -> needs a palette decode, reject
    mangled = bytearray(full)
    mangled[28] = 8
    assert multimodal.parse_bmp(bytes(mangled)) is None


def _wav(rate: int, channels: int, samples: np.ndarray,
         junk_chunk: bool = False) -> bytes:
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if junk_chunk:
        chunks += b"JUNK" + struct.pack("<I", 5) + b"xxxxx\x00"  # odd size, padded
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_pcm_roundtrip_with_junk_chunk():
    samples = np.array([0, 1, -1, 32767, -32768, 12345, -54], dtype=np.int16)
    parsed = multimodal.parse_wav_pcm(_wav(22050, 1, samples, junk_chunk=True))
    assert parsed is not None
    rate, channels, got = parsed
    assert (rate, channels) == (22050, 1)
    # chunk walk must skip the odd-sized JUNK chunk (word alignment)
    assert np.array_equal(got, samples)


def test_parse_wav_pcm_rejects_non_pcm16():
    samples = np.array([1, 2], dtype=np.int16)
    b = bytearray(_wav(8000, 1, samples))
    b[34] = 8  # bits-per-sample 8: not int16 PCM
    assert multimodal.parse_wav_pcm(bytes(b)) is None
    assert multimodal.parse_wav_pcm(b"\xff\xfb\x90\xc0" + b"\x00" * 32) is None


def test_decode_pixel_stats_matches_direct_numpy(spark):
    """Spark plumbing end-to-end: Catalyst-built BMPs -> mapInPandas
    full decode -> stats equal a direct local decode of the SAME
    payload bytes (catches builder/decoder disagreement without
    trusting either side alone)."""
    df = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.make_bmp_payload(df, "doc_id").collect()
    }
    got = {
        r["doc_id"]: r.asDict()
        for r in multimodal.decode_pixel_stats(
            multimodal.make_bmp_payload(df, "doc_id"), "doc_id"
        ).collect()
    }
    assert set(got) == set(payloads)
    for doc_id, b in payloads.items():
        w, h, pix = multimodal.parse_bmp(b)
        p64 = pix.astype(np.int64)
        assert got[doc_id]["sum_b"] == int(p64[:, :, 0].sum())
        assert got[doc_id]["sum_r"] == int(p64[:, :, 2].sum())
        assert got[doc_id]["n_pixels"] == w * h
        # and the builder's generative formula really is what landed
        # in the bytes (pixel p of the TOP-DOWN image)
        flat = p64.reshape(-1, 3)
        for p in (0, w * h - 1):
            assert flat[p, 0] == (31 * doc_id + 3 * p) % 256
            assert flat[p, 1] == (31 * doc_id + 3 * p + 1) % 256
            assert flat[p, 2] == (31 * doc_id + 3 * p + 2) % 256


def test_decode_pcm_stats_strict_raises_on_mp3(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    payload = multimodal.make_audio_payload(df, "doc_id", "text")  # id 1 -> mp3
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_pcm_stats(payload, "doc_id", strict=True).collect()


def test_format_gate_decision_logic(monkeypatch):
    """The delta/protobuf packages cannot be installed in this runtime
    (package installs are out of contract), so the gate DECISION logic
    is pinned directly: default_stream_format() must resolve to
    'delta' exactly when the package is importable — simulated both
    ways via find_spec, no package needed."""
    import importlib.util

    from amazon_books_review_spark.sources import io as io_mod

    real_find_spec = importlib.util.find_spec

    monkeypatch.setattr(
        importlib.util, "find_spec",
        lambda name, *a: object() if name == "delta" else real_find_spec(name, *a),
    )
    assert io_mod.delta_available() is True
    assert io_mod.default_stream_format() == "delta"

    monkeypatch.setattr(
        importlib.util, "find_spec",
        lambda name, *a: None if name == "delta" else real_find_spec(name, *a),
    )
    assert io_mod.delta_available() is False
    assert io_mod.default_stream_format() == "parquet"


def test_hardlink_clone_recurses_into_partitioned_dirs(tmp_path):
    """ADVICE r11: a partitionBy-written staged input is a directory
    tree — the clone must carry the nested part files, not silently
    skip them."""
    from amazon_books_review_spark.sources.fixtures import hardlink_clone

    src = tmp_path / "src"
    (src / "lang=en").mkdir(parents=True)
    (src / "lang=en" / "part-0.parquet").write_bytes(b"en-bytes")
    (src / "_SUCCESS").write_bytes(b"")
    dst = tmp_path / "dst"
    hardlink_clone(str(src), str(dst))
    assert (dst / "_SUCCESS").exists()
    assert (dst / "lang=en" / "part-0.parquet").read_bytes() == b"en-bytes"
    # hard-linked, not copied (same inode), when on one filesystem
    assert (dst / "lang=en" / "part-0.parquet").stat().st_ino == (
        src / "lang=en" / "part-0.parquet"
    ).stat().st_ino


def test_bench_relayout_rescues_split_starved_scans(spark, tmp_path, monkeypatch):
    """The driver's single-row-group parquet caps every scan at one
    task; bench's untimed ingest re-layout must produce a multi-split
    copy with identical rows in the same order (PERF.md r12 Finding 2)."""
    import pandas as pd
    import pyarrow.parquet as pq

    import bench
    from amazon_books_review_spark.sources.io import TESTDATA_TABLES

    src = tmp_path / "sfx"
    src.mkdir()
    # single-file, single-row-group source for each required table
    for t in TESTDATA_TABLES:
        pd.DataFrame({"a": range(500), "t": [t] * 500}).to_parquet(
            src / f"{t}.parquet", index=False
        )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    out_dir = tmp_path / "laid"
    bench.relayout(str(src), str(out_dir))
    parts = sorted((out_dir / "orders.parquet").iterdir())
    assert len(parts) == 4  # max(4, 8 // 2)
    df = spark.read.parquet(str(out_dir / "orders.parquet"))
    assert df.rdd.getNumPartitions() > 1, "re-layout still single-split"
    assert sorted(r.a for r in df.collect()) == list(range(500))
    # contiguous slices: the part files in name order are the source rows
    rows = [a for p in parts for a in pq.read_table(p).column("a").to_pylist()]
    assert rows == list(range(500))


def test_margin_bitext_matches_plain_python_replay(spark):
    """Margin mining semantics: mutual-k-NN membership, integer
    quantization, and the ratio-margin formula must match an
    independent plain-numpy replay exactly (same quantization)."""
    import math

    import numpy as np

    from amazon_books_review_spark.functions import similarity

    rng = np.random.default_rng(3)
    src_vecs = rng.normal(size=(6, 8)); tgt_vecs = rng.normal(size=(7, 8))
    src_rows = [(2 * i, [float(x) for x in v]) for i, v in enumerate(src_vecs)]
    tgt_rows = [(2 * i + 1, [float(x) for x in v]) for i, v in enumerate(tgt_vecs)]
    src = spark.createDataFrame(src_rows, "vec_id long, embedding array<double>")
    tgt = spark.createDataFrame(tgt_rows, "vec_id long, embedding array<double>")
    K = 3
    out = similarity.margin_bitext_pairs(
        src, tgt, "vec_id", "embedding", k=K, margin_threshold=0.0
    )
    got = {
        (r["src_id"], r["tgt_id"]): (r["cos_q"], r["margin"])
        for r in out.collect()
    }

    # independent replay
    sid = [r[0] for r in src_rows]; tid = [r[0] for r in tgt_rows]
    q = {}
    for i, a in enumerate(src_vecs):
        for j, b in enumerate(tgt_vecs):
            cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            q[(sid[i], tid[j])] = math.floor(cos * 1e6 + 0.5)
    def topk(keys, pid, other_idx):
        pairs = sorted(keys, key=lambda kv: (-q[kv], kv[other_idx]))
        return pairs[:K]
    expect = {}
    knn_x = {s: topk([kv for kv in q if kv[0] == s], s, 1) for s in sid}
    knn_y = {t_: topk([kv for kv in q if kv[1] == t_], t_, 0) for t_ in tid}
    for s in sid:
        for t_ in tid:
            if (s, t_) in knn_x[s] and (s, t_) in knn_y[t_]:
                sum_x = sum(q[kv] for kv in knn_x[s]); sum_y = sum(q[kv] for kv in knn_y[t_])
                margin = round(2.0 * q[(s, t_)] / (sum_x * 1.0 / K + sum_y * 1.0 / K), 6)
                if margin > 0.0:
                    expect[(s, t_)] = (q[(s, t_)], margin)
    assert got == expect


def test_hard_negatives_exclude_positives_and_same_label(spark):
    """Hard-negative contract: no same-label neighbor, nothing at or
    above the presumed-positive cap, at most k rows per probe, ranked
    by similarity descending."""
    import math

    import numpy as np

    from amazon_books_review_spark.functions import similarity

    rng = np.random.default_rng(11)
    rows = []
    for i in range(30):
        v = rng.normal(size=6)
        rows.append((i, i % 3, [float(x) for x in v]))
    # a near-duplicate of vec 0 with a DIFFERENT label: similarity
    # ~1.0 >= max_sim, so the cap must exclude it even though the
    # label differs
    base = np.array(rows[0][2])
    rows.append((99, 1, [float(x) for x in base * 1.001]))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    probes = df.filter("vec_id = 0")
    out = similarity.hard_negatives(
        df, probes, "vec_id", "embedding", "label", k=4, max_sim=0.95
    ).collect()
    assert 0 < len(out) <= 4
    sims = [r["sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        assert r["sim"] < 0.95
        assert r["neighbor_id"] != 99, "near-duplicate leaked past the cap"
