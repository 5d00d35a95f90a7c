"""bench.py's one timing path: ``time_entries`` and the numbering of
its detail files."""

from __future__ import annotations

import bench
from amazon_books_review_spark.plans import catalog


def test_next_round_is_past_every_bench_artifact(tmp_path, monkeypatch):
    """The detail files of a new run must not overwrite a committed
    one: BENCH_LOCAL_r21 exists beside BENCH_r20, so the next round is
    22, not 21."""
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    for name in ("BENCH_r19.json", "BENCH_r20.json", "BENCH_r20_c8.json",
                 "BENCH_LOCAL_r21.json", "BENCH_APPENDIX_r20.json",
                 "BENCH_SF1_R20.json"):
        (tmp_path / name).write_text("{}")
    assert bench._next_round(str(tmp_path)) == 22
    (tmp_path / "BENCH_APPENDIX_r23.json").write_text("{}")
    assert bench._next_round(str(tmp_path)) == 24


def test_time_entries_splits_spans_and_isolates_errors(spark, sf_dir, monkeypatch):
    """One batch and one streaming entry time through warm-up,
    re-layout, prestaging and ``execute``; an entry that raises in the
    warm-up or in the timed run costs its own row only."""
    real = catalog.all_queries()

    def broken_everywhere(spark, sf_dir):
        raise RuntimeError("broken everywhere")

    def broken_timed(spark, sf_dir):
        if sf_dir != bench.WARMUP_SF_DIR:
            raise RuntimeError("broken at the timed scale")
        return spark.range(1)

    monkeypatch.setattr(catalog, "all_queries", lambda: {
        **real, "broken_everywhere": broken_everywhere, "broken_timed": broken_timed,
    })
    names = ["broken_everywhere", "text_token_stats", "broken_timed",
             "streaming_stream_static_join"]
    run = bench.time_entries(spark, names, sf_dir)
    rows = run["rows"]
    assert set(rows) == set(names)
    for name in ("text_token_stats", "streaming_stream_static_join"):
        row = rows[name]
        assert row["construct_s"] >= 0 and row["action_s"] >= 0, row
        assert abs(row["secs"] - row["construct_s"] - row["action_s"]) <= 0.002
        assert name in run["warmup_sf0001"]
    assert rows["broken_everywhere"]["phase"] == "warm-up"
    assert "broken everywhere" in rows["broken_everywhere"]["error"]
    assert rows["broken_timed"]["phase"] == "timed"
    assert "broken at the timed scale" in rows["broken_timed"]["error"]
    assert run["layout_s"] >= 0 and run["prestage_s"] >= 0
