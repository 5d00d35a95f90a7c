"""Property tests for the north-star ops that have no SQL oracle:
MLlib MinHashLSH, rolling-hash fingerprints, LSH recall, multimodal
decode.  Driver-testdata-based where useful (the documents table has
planted near-duplicates), synthetic rows where sharper."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from amazon_books_review_spark.functions import dedup, multimodal, similarity, text
from amazon_books_review_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


class TestDedupProperties:
    def test_jaccard_pairs_symmetric_bounds(self, spark, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5)
        rows = pairs.collect()
        assert rows, "sf0.001 documents should contain planted near-dups"
        for r in rows:
            assert r.id_a < r.id_b
            assert 0.5 <= r.jaccard <= 1.0
            assert r.n_common <= min(r.size_a, r.size_b)

    def test_lsh_candidates_cover_true_pairs(self, spark, docs):
        """Every high-Jaccard pair should be an LSH candidate (s^r per
        band is ~0.66 at s=0.9 with r=4; two bands push coverage high
        — for the PLANTED pairs, which sit at s~0.99, expect all)."""
        true_pairs = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=2, threshold=0.9
            ).collect()
        }
        cand = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", n=2, n_hashes=8, bands=2
            ).collect()
        }
        assert true_pairs, "expected planted >=0.9 pairs"
        missed = true_pairs - cand
        assert not missed, f"LSH missed near-identical pairs: {missed}"

    def test_simhash_near_dups_close(self, spark, docs):
        """Planted near-dup pairs should have small SimHash Hamming
        distance; random pairs should average much larger."""
        fp = dedup.simhash16(docs, "doc_id", "text")
        true_pairs = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.9
        )
        a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
        b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
        joined = true_pairs.join(a, "id_a").join(b, "id_b").select(
            dedup.hamming16(F.col("sh_a"), F.col("sh_b")).alias("d")
        )
        dists = [r.d for r in joined.collect()]
        assert dists and max(dists) <= 4

    def test_mllib_minhash_finds_planted_pairs(self, spark, docs):
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=2, threshold=0.9
            ).collect()
        }
        ml_pairs = dedup.minhash_lsh_ml(
            docs, "doc_id", "text", num_hash_tables=5, jaccard_distance=0.4, n=2
        )
        found = {(r.id_a, r.id_b) for r in ml_pairs.collect()}
        assert exact <= found

    def test_connected_components_properties(self, spark):
        """Hand-built graph: two chains + a singleton pair; every edge
        endpoint pair shares a cluster and cluster id = min member."""
        from pyspark.sql import Row

        pairs = spark.createDataFrame(
            [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
             Row(id_a=10, id_b=11), Row(id_a=20, id_b=21), Row(id_a=21, id_b=22)]
        )
        got = {r.node: r.cluster_id
               for r in dedup.connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20}

    def test_star_cc_matches_label_prop_handbuilt(self, spark):
        from pyspark.sql import Row

        pairs = spark.createDataFrame(
            [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
             Row(id_a=10, id_b=11), Row(id_a=20, id_b=21), Row(id_a=21, id_b=22)]
        )
        got = {r.node: r.cluster_id
               for r in dedup.connected_components(pairs, algorithm="star").collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20}

    def test_star_cc_matches_label_prop_random_graphs(self, spark, distributed_arm):
        """Deterministic pseudo-random graphs (seeded): the two CC
        algorithms must agree exactly — including deep chains, the
        case star exists for.  Both run their distributed loops; the
        local arm has its own differential tests."""
        import random

        rng = random.Random(1234)
        for trial in range(4):
            n = rng.randint(2, 40)
            m = rng.randint(1, 60)
            edges = [
                (rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            # force a deep chain so diameter >> 1
            chain = list(range(50, 50 + rng.randint(5, 15)))
            edges += list(zip(chain, chain[1:]))
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            lp = {r.node: r.cluster_id
                  for r in dedup.connected_components(
                      pairs, max_iter=100).collect()}
            star = {r.node: r.cluster_id
                    for r in dedup.connected_components(
                        pairs, algorithm="star").collect()}
            assert star == lp, f"trial {trial}: star != label_prop"

    def test_exact_dedup_partition_of_input(self, spark, docs):
        out = dedup.dedup_exact(docs, "doc_id", "text")
        total = out.agg(F.sum("n_copies")).first()[0]
        assert total == docs.count()


class TestSimilarityProperties:
    def test_lsh_topk_recall_vs_exact(self, spark):
        emb = load_table(spark, SF, "embeddings").cache()
        probes = emb.filter(F.col("vec_id") < 10)
        exact = similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=5)
        approx = similarity.lsh_bucketed_topk(
            emb, probes, "vec_id", "embedding", k=5, n_planes=4, n_tables=4, dim=64
        )
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.3, f"sign-LSH recall collapsed: {recall}"

    def test_arrow_cosine_equals_jvm_cosine(self, spark):
        """The numpy mapInPandas path must produce exactly the JVM
        expression path's results (same rounding, same tie-breaks)."""
        emb = load_table(spark, SF, "embeddings").cache()
        probes = emb.filter(F.col("vec_id") < 10)
        jvm = sorted(
            (r.query_id, r.neighbor_id, r.rank, r.sim)
            for r in similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=5).collect()
        )
        arrow = sorted(
            (r.query_id, r.neighbor_id, r.rank, r.sim)
            for r in similarity.cosine_topk_arrow(emb, probes, "vec_id", "embedding", k=5).collect()
        )
        assert jvm == arrow

    def test_cosine_topk_self_excluded_and_ranked(self, spark):
        emb = load_table(spark, SF, "embeddings")
        probes = emb.filter(F.col("vec_id") < 3)
        out = similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=5).collect()
        by_q: dict = {}
        for r in out:
            assert r.query_id != r.neighbor_id
            by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
        for q, rows in by_q.items():
            rows.sort()
            sims = [s for _, s in rows]
            assert sims == sorted(sims, reverse=True)
            assert [r for r, _ in rows] == list(range(1, len(rows) + 1))


class TestFingerprints:
    def test_rolling_hash_deterministic_and_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="c b a"),
             Row(doc_id=3, text="a b c")]
        )
        out = {r.doc_id: r.fp_rolling for r in
               text.fingerprint(df, "doc_id", "text").collect()}
        assert out[1] == out[3]  # deterministic
        assert out[1] != out[2]  # order-sensitive
        assert all(v >= 0 for v in out.values())  # masked to non-negative


class TestMultimodal:
    def test_parse_image_header_known_formats(self):
        # Hand-built minimal payloads in each public byte format.
        import struct

        png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
               + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00")
        assert multimodal.parse_image_header(png) == ("png", 640, 480)
        jpeg = b"\xff\xd8\xff\xc0\x00\x11\x08" + struct.pack(">HH", 480, 640)
        assert multimodal.parse_image_header(jpeg) == ("jpeg", 640, 480)
        # JPEG with an APP0 segment before SOF (the common JFIF layout)
        jfif = (b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
                + b"\xff\xc2\x00\x11\x08" + struct.pack(">HH", 33, 77))
        assert multimodal.parse_image_header(jfif) == ("jpeg", 77, 33)
        # JPEG with 0xFF fill bytes before the SOF marker (T.81 B.1.1.2)
        filled = (b"\xff\xd8\xff\xff\xff\xc0\x00\x11\x08"
                  + struct.pack(">HH", 10, 20))
        assert multimodal.parse_image_header(filled) == ("jpeg", 20, 10)
        gif = b"GIF89a" + struct.pack("<HH", 320, 200)
        assert multimodal.parse_image_header(gif) == ("gif", 320, 200)
        assert multimodal.parse_image_header(b"not an image at all") is None

    def test_parse_audio_header_known_formats(self):
        import struct

        def wav(rate, channels, bits=16, prefix_chunks=b""):
            fmt = struct.pack("<HHIIHH", 1, channels, rate,
                              rate * channels * bits // 8,
                              channels * bits // 8, bits)
            return (b"RIFF" + struct.pack("<I", 36) + b"WAVE" + prefix_chunks
                    + b"fmt " + struct.pack("<I", 16) + fmt
                    + b"data" + struct.pack("<I", 0))

        assert multimodal.parse_audio_header(wav(44100, 2)) == ("wav", 44100, 2, 16)
        # fmt chunk NOT at the fixed offset (LIST chunk first) — the
        # chunk walk must find it anyway.
        listed = wav(8000, 1, prefix_chunks=b"LIST" + struct.pack("<I", 4) + b"INFO")
        assert multimodal.parse_audio_header(listed) == ("wav", 8000, 1, 16)
        # MP3: MPEG1 Layer III, 44.1 kHz, joint stereo / mono.
        assert multimodal.parse_audio_header(b"\xff\xfb\x90\x40" + b"x" * 8) == (
            "mp3", 44100, 2, 0)
        assert multimodal.parse_audio_header(b"\xff\xfb\x98\xc0" + b"x" * 8) == (
            "mp3", 32000, 1, 0)
        # MPEG2 (22.05 kHz table) and reserved sample-rate index.
        assert multimodal.parse_audio_header(b"\xff\xf3\x90\xc0" + b"x" * 8) == (
            "mp3", 22050, 1, 0)
        assert multimodal.parse_audio_header(b"\xff\xfb\x9c\xc0" + b"x" * 8) is None
        assert multimodal.parse_audio_header(b"not audio") is None

    def test_jpeg_scan_stops_at_sos(self):
        import struct

        # SOS before any SOF: scanning must stop, not read entropy-coded
        # bytes as markers (a 0xFFC0-looking byte pair follows SOS here).
        evil = (b"\xff\xd8" + b"\xff\xda\x00\x02"
                + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 1, 1))
        assert multimodal.parse_image_header(evil) is None

    def test_make_audio_payload_roundtrips_through_decode(self, spark, docs):
        with_payload = multimodal.make_audio_payload(docs.limit(30), "doc_id", "text")
        meta = multimodal.decode_audio_meta(with_payload, "doc_id").collect()
        assert len(meta) == 30
        for r in meta:
            k = r.doc_id // 2
            if r.doc_id % 2 == 0:
                assert r.format == "wav"
                assert r.sample_rate == [8000, 16000, 32000, 48000][k % 4]
                assert r.channels == k % 2 + 1
                assert r.bits_per_sample == 16
                assert r.payload_bytes == 44 + 32
            else:
                assert r.format == "mp3"
                assert r.sample_rate == [44100, 48000, 32000][k % 3]
                assert r.channels == 1 if k % 2 == 0 else 2
                assert r.bits_per_sample == 0
                assert r.payload_bytes == 4 + 32

    def test_make_image_payload_roundtrips_through_decode(self, spark, docs):
        with_payload = multimodal.make_image_payload(docs.limit(30), "doc_id", "text")
        meta = multimodal.decode_image_meta(with_payload, "doc_id").collect()
        assert len(meta) == 30
        fmt_by_mod = {0: "png", 1: "jpeg", 2: "gif"}
        for r in meta:
            # The decoder parsed REAL bytes; the expectation is recomputed
            # from the id arithmetic that built them.
            assert r.format == fmt_by_mod[r.doc_id % 3]
            assert r.width == r.doc_id % 512 + 16
            assert r.height == r.doc_id % 384 + 16
            header = {"png": 29, "jpeg": 11, "gif": 10}[r.format]
            assert r.payload_bytes == header + 32

    def test_decode_meta_unknown_fallback(self, spark, docs):
        with_payload = multimodal.attach_payload(docs.limit(20), "doc_id", "text")
        meta = multimodal.decode_image_meta(with_payload, "doc_id").collect()
        src = {r.doc_id: r.text for r in docs.limit(20).collect()}
        assert len(meta) == 20
        for r in meta:
            raw = src[r.doc_id].encode()
            assert r.payload_bytes == len(raw)
            assert r.format == "unknown"
            assert r.width == len(raw) % 640 + 1
            assert r.height == len(raw) % 480 + 1
            import hashlib
            assert r.checksum == hashlib.md5(raw).hexdigest()

    def test_strict_decode_raises_on_unparseable(self, spark, docs):
        with_payload = multimodal.attach_payload(docs.limit(5), "doc_id", "text")
        strict = multimodal.decode_image_meta(with_payload, "doc_id", strict=True)
        with pytest.raises(Exception, match="NotImplementedError|image signature"):
            strict.collect()

    def test_strict_decode_passes_on_real_images(self, spark, docs):
        with_payload = multimodal.make_image_payload(docs.limit(5), "doc_id", "text")
        out = multimodal.decode_image_meta(with_payload, "doc_id", strict=True).collect()
        assert len(out) == 5

    def test_resize_strict_raises_on_unknown_format(self, spark, docs):
        with_payload = multimodal.attach_payload(docs.limit(5), "doc_id", "text")
        strict = multimodal.resize_images(with_payload, "doc_id", strict=True)
        with pytest.raises(Exception, match="NotImplementedError|unknown image"):
            strict.collect()

    def test_resize_lenient_drops_unknown_keeps_real(self, spark, docs):
        """Lenient mode mirrors decode_image_meta: unknown payloads
        drop, real-header payloads resize with exact halved dims."""
        real = multimodal.make_image_payload(docs.limit(6), "doc_id", "text")
        out = {r.doc_id: r for r in multimodal.resize_images(real, "doc_id").collect()}
        assert len(out) == 6
        for i, r in out.items():
            assert (r.src_w, r.src_h) == (i % 512 + 16, i % 384 + 16)
            assert (r.dst_w, r.dst_h) == (max(1, r.src_w // 2), max(1, r.src_h // 2))
            assert r.resized_bytes == r.dst_w * r.dst_h * 3
        fake = multimodal.attach_payload(docs.limit(3), "doc_id", "text")
        assert multimodal.resize_images(fake, "doc_id").count() == 0
