"""sources/versioned.py — time travel over plain parquet."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from amazon_books_review_spark.sources.versioned import (
    VersionNotFoundError,
    VersionedTable,
)


def test_version_as_of_roundtrip(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    assert t.write(spark.range(0, 3), note="initial") == 0
    assert t.write(spark.range(0, 5), note="grew") == 1
    assert t.write(spark.range(0, 2), note="shrank") == 2

    assert t.read(spark, version=0).count() == 3
    assert t.read(spark, version=1).count() == 5
    assert t.read(spark).count() == 2  # latest
    assert t.latest_version() == 2

    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["n_rows"] for h in hist] == [3, 5, 2]
    assert hist[1]["note"] == "grew"


def test_missing_version_raises(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    with pytest.raises(VersionNotFoundError):
        t.read(spark)
    t.write(spark.range(1))
    with pytest.raises(VersionNotFoundError, match="never committed"):
        t.read(spark, version=7)


def test_uncommitted_data_dir_is_invisible(spark, tmp_path):
    """A data directory without a manifest entry (crashed write) must
    not be readable as a version and must be reclaimed by vacuum."""
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.range(0, 4))
    # simulate a write that died before the manifest append
    spark.range(0, 99).write.parquet(str(tmp_path / "tbl" / "v=1"))
    assert t.latest_version() == 0
    with pytest.raises(VersionNotFoundError):
        t.read(spark, version=1)
    t.vacuum(keep_last=1)
    assert not (tmp_path / "tbl" / "v=1").exists()
    assert t.read(spark).count() == 4


def test_vacuum_keeps_history_drops_data(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    for n in (2, 4, 6, 8):
        t.write(spark.range(0, n))
    removed = t.vacuum(keep_last=2)
    assert removed == [0, 1]
    # expired data gone, history intact and marked
    hist = {h["version"]: h for h in t.history()}
    assert hist[0]["vacuumed"] and hist[1]["vacuumed"]
    assert hist[0]["n_rows"] == 2  # DESCRIBE HISTORY still answers
    with pytest.raises(VersionNotFoundError, match="vacuumed"):
        t.read(spark, version=0)
    assert t.read(spark, version=2).count() == 6
    assert t.read(spark, version=3).count() == 8
    # idempotent
    assert t.vacuum(keep_last=2) == []


def test_claim_collision_forces_retry(spark, tmp_path):
    """A lost O_EXCL claim race skips to the next free version —
    the loser never overwrites the claimed number's data."""
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.range(0, 3))
    # another writer holds the claim for v=1 (in-flight, uncommitted)
    (tmp_path / "tbl" / "_claims").mkdir(exist_ok=True)
    (tmp_path / "tbl" / "_claims" / "v=1").touch()
    assert t.write(spark.range(0, 7)) == 2  # retried past the claim
    assert t.read(spark).count() == 7
    assert [h["version"] for h in t.history()] == [0, 2]


def test_concurrent_writers_linear_history(spark, tmp_path):
    """Property (VERDICT r7 #7): interleaved writers yield a linear
    history with no lost snapshot — every write commits a distinct
    version whose read returns exactly its row count."""
    import threading

    t = VersionedTable(str(tmp_path / "tbl"))
    results: dict[tuple[int, int], int] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def writer(wid: int):
        try:
            barrier.wait()
            for i in range(4):
                n = 10 * wid + i + 1  # distinct row count per write
                results[(wid, i)] = t.write(spark.range(0, n), note=f"w{wid}.{i}")
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    versions = sorted(results.values())
    assert len(versions) == 8 and len(set(versions)) == 8  # no lost snapshot
    assert [h["version"] for h in t.history()] == versions  # linear
    for (wid, i), v in results.items():
        assert t.read(spark, version=v).count() == 10 * wid + i + 1


def test_vacuum_never_touches_claimed_versions(spark, tmp_path):
    """The r7-flagged race: vacuum racing an in-flight write (data
    dir written, commit not yet renamed) must NOT delete its data."""
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.range(0, 4))
    # simulate an in-flight writer: claim taken, data written, no commit
    (tmp_path / "tbl" / "_claims" / "v=1").touch()
    spark.range(0, 99).write.parquet(str(tmp_path / "tbl" / "v=1"))
    t.vacuum(keep_last=1)
    assert (tmp_path / "tbl" / "v=1").exists()  # in-flight data survives
    # maintenance mode (caller guarantees no writers) reclaims it
    t.vacuum(keep_last=1, reclaim_stale_claims=True)
    assert not (tmp_path / "tbl" / "v=1").exists()
    assert not (tmp_path / "tbl" / "_claims" / "v=1").exists()
    assert t.read(spark).count() == 4


def test_time_travel_pairs_with_cdc(spark, tmp_path):
    """snapshot_diff across two committed versions == the write delta,
    the lakehouse triad (merge -> versioned write -> change feed)."""
    from amazon_books_review_spark.operators.cdc import snapshot_diff

    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.write(spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k long, s string"))
    feed = snapshot_diff(
        t.read(spark, version=0), t.read(spark, version=1), "k"
    )
    kinds = {(r.k, r._change_type) for r in feed.collect()}
    assert kinds == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (3, "insert"),
    }


def test_vacuum_rechecks_claim_before_rmtree(spark, tmp_path, monkeypatch):
    """The round-8-flagged TOCTOU: a writer that claims v=N and creates
    its data dir between vacuum's claim snapshot and its orphan scan
    must NOT lose the directory.  Simulated by forcing a stale (empty)
    claim snapshot while the claim file exists on disk — the pre-rmtree
    re-check must protect the in-flight data."""
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.range(3), note="v0")
    t.write(spark.range(4), note="v1")

    # in-flight writer: claim + data dir, no commit yet
    (Path(t.path) / "_claims" / "v=2").touch()
    spark.range(5).write.parquet(str(Path(t.path) / "v=2"))

    monkeypatch.setattr(VersionedTable, "_claimed_versions", lambda self: set())
    t.vacuum(keep_last=1)
    assert (Path(t.path) / "v=2").is_dir()  # survived the stale snapshot
    assert (Path(t.path) / "_claims" / "v=2").exists()


def test_migrate_legacy_survives_racing_winner(spark, tmp_path):
    """_migrate_legacy must tolerate the legacy manifest vanishing
    between the exists() check and the read (two concurrent writers,
    round-8 review): simulated by calling it when the file is already
    gone, and by double-migration idempotence."""
    t = VersionedTable(str(tmp_path / "tbl"))
    root = Path(t.path)
    root.mkdir(parents=True)
    legacy = root / "_versions.json"
    legacy.write_text(
        json.dumps(
            [
                {
                    "version": 0,
                    "committed_at": "2026-01-01T00:00:00Z",
                    "n_rows": 1,
                    "note": "legacy",
                    "vacuumed": False,
                }
            ]
        )
    )
    t._migrate_legacy()
    assert not legacy.exists()
    t._migrate_legacy()  # second call: file gone — must be a no-op, not a crash
    assert [h["version"] for h in t.history()] == [0]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_write_launches_only_its_write_job(spark, tmp_path):
    """``n_rows`` comes from the footers and the snapshot's schema is
    seeded, so a commit is one Spark job and the read-back's schema
    costs none."""
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(100)
    first = _next_job_id(spark)
    t.write(df)
    assert _next_job_id(spark) - first == 1
    t.read(spark)
    assert _next_job_id(spark) - first == 1
    assert t.history()[-1]["n_rows"] == 100


def test_n_rows_of_empty_and_multi_file_snapshots(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write(spark.range(0))
    t.write(spark.range(0, 30, 1, 3))
    assert len(list((tmp_path / "tbl" / "v=1").glob("*.parquet"))) == 3
    assert [h["n_rows"] for h in t.history()] == [0, 30]
    assert [t.read(spark, version=v).count() for v in (0, 1)] == [0, 30]
