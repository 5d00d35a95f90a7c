"""Versioned table snapshots — time travel without Delta.

The reference's platform gets ``VERSION AS OF`` / ``DESCRIBE
HISTORY`` from Delta's transaction log (delta-spark is absent here,
COVERAGE.md §2.11).  This module supplies the same read contract over
plain parquet, with Delta-style OPTIMISTIC CONCURRENCY for writers:

* a writer first CLAIMS a version number by atomically creating
  ``_claims/v=N`` with ``O_EXCL`` — two racing writers cannot both
  claim N; the loser recomputes the next free number and retries
  (the same loser-retry protocol a Delta commit runs against its
  ``_delta_log/N.json``);
* the claimed snapshot lands under ``<table>/v=N/``; the COMMIT
  point is the atomic rename of ``_commits/v=N.json`` into place —
  a crashed write leaves a claim + orphan directory, never a
  readable half-snapshot;
* ``read(..., version=N)`` is ``VERSION AS OF N``; ``version=None``
  reads the latest committed snapshot;
* ``history()`` is ``DESCRIBE HISTORY`` (version, timestamp, row
  count, operation note), merged across commit files and any legacy
  ``_versions.json`` manifest.  The row count ``n_rows`` is summed
  from the snapshot's parquet footers by the write itself
  (``sources.io.write_parquet``), which also seeds the schema cache,
  so a commit launches one Spark job, the write, and reading the
  snapshot back launches none;
* ``vacuum(keep_last=K)`` drops data directories of expired versions
  while keeping their history rows — the storage/time-travel trade
  made explicit.

Concurrency contract: concurrent ``write()`` calls are SAFE — the
claim CAS linearizes them (property-tested with interleaved
writers).  ``vacuum()`` is maintenance: it never touches claimed
versions (so it cannot delete an in-flight writer's data, the race
the round-7 review flagged), but reclaiming *stale* claims
(``reclaim_stale_claims=True``) assumes no writer is mid-flight on
them — run that mode from a single maintenance process only.

Scale notes: a snapshot write is a normal parquet write (full
parallelism); claims and commits are O(versions) metadata files,
never data.  Partition-scoped evolution composes via
``maintenance.backfill_partitions`` INSIDE a version directory;
cross-version dedup of unchanged files (Delta's real trick) is out
of scope — the contract here is correctness of time travel, priced
at full-copy storage per snapshot, reclaimed by ``vacuum``.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from amazon_books_review_spark.sources.io import read_parquet, write_parquet

_MANIFEST = "_versions.json"  # legacy single-file manifest (read + migrated)
_CLAIMS = "_claims"
_COMMITS = "_commits"


class VersionNotFoundError(LookupError):
    """Requested version absent from the commit log (never written, or
    its data was vacuumed)."""


@dataclass
class VersionedTable:
    """Versioned parquet table rooted at ``path`` (multi-writer safe)."""

    path: str

    # -- layout -------------------------------------------------------------
    def _root(self) -> Path:
        return Path(self.path)

    def _claims_dir(self) -> Path:
        return self._root() / _CLAIMS

    def _commits_dir(self) -> Path:
        return self._root() / _COMMITS

    def _commit_path(self, version: int) -> Path:
        return self._commits_dir() / f"v={version}.json"

    def _legacy_manifest(self) -> Path:
        return self._root() / _MANIFEST

    # -- history ------------------------------------------------------------
    def _commit_entries(self) -> dict[int, dict]:
        """version -> entry from per-version commit files + legacy manifest."""
        entries: dict[int, dict] = {}
        legacy = self._legacy_manifest()
        if legacy.exists():
            for h in json.loads(legacy.read_text()):
                entries[h["version"]] = h
        commits = self._commits_dir()
        if commits.is_dir():
            for p in commits.glob("v=*.json"):
                try:
                    h = json.loads(p.read_text())
                except (OSError, ValueError):
                    continue  # racing rename; the tmp never parses as committed
                entries[h["version"]] = h  # commit files win over legacy rows
        return entries

    def history(self) -> list[dict]:
        return sorted(self._commit_entries().values(), key=lambda h: h["version"])

    def latest_version(self) -> int | None:
        hist = self.history()
        return hist[-1]["version"] if hist else None

    def _claimed_versions(self) -> set[int]:
        claims = self._claims_dir()
        out: set[int] = set()
        if claims.is_dir():
            for p in claims.glob("v=*"):
                try:
                    out.add(int(p.name.split("=", 1)[1]))
                except ValueError:
                    continue
        return out

    def _migrate_legacy(self) -> None:
        """Fold a legacy ``_versions.json`` into per-version commit
        files (called from mutation paths so vacuum's flag rewrites
        have one canonical home).  Read paths merge both, so a purely
        read workload never needs this."""
        legacy = self._legacy_manifest()
        # Two concurrent writers may both see the legacy file; the loser
        # must not crash when the winner migrates-and-unlinks between our
        # exists() check and the read (round-8 review).
        try:
            rows = json.loads(legacy.read_text())
        except FileNotFoundError:
            return
        self._commits_dir().mkdir(parents=True, exist_ok=True)
        for h in rows:
            cp = self._commit_path(h["version"])
            if not cp.exists():
                tmp = cp.with_suffix(".json.tmp")
                tmp.write_text(json.dumps(h, indent=2))
                tmp.replace(cp)
        legacy.unlink(missing_ok=True)

    # -- write --------------------------------------------------------------
    def write(self, df: DataFrame, note: str = "") -> int:
        """Write ``df`` as the next snapshot; returns its version.

        Protocol (safe under concurrent writers):

        1. CLAIM: atomically create ``_claims/v=N`` with ``O_EXCL``
           for the smallest N above every claimed/committed version.
           A loser of the race gets ``FileExistsError`` and retries
           with the next number — two writers can never both own N.
        2. DATA: write the parquet under ``v=N`` (exclusive by claim);
           ``n_rows`` comes from the footers of the files written.
        3. COMMIT: rename ``_commits/v=N.json`` into place — the
           atomic commit point.  A crash before this leaves a claim +
           orphan directory (vacuum noise), never a readable
           half-snapshot.
        """
        root = self._root()
        root.mkdir(parents=True, exist_ok=True)
        self._migrate_legacy()
        self._claims_dir().mkdir(parents=True, exist_ok=True)
        self._commits_dir().mkdir(parents=True, exist_ok=True)

        while True:
            taken = self._claimed_versions() | set(self._commit_entries())
            version = (max(taken) + 1) if taken else 0
            try:
                # O_CREAT|O_EXCL — the compare-and-swap that linearizes writers
                with open(self._claims_dir() / f"v={version}", "x"):
                    pass
                break
            except FileExistsError:
                continue  # lost the race for this number; recompute and retry

        data_dir = root / f"v={version}"
        n_rows = write_parquet(df, str(data_dir), mode="errorifexists")
        entry = {
            "version": version,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "n_rows": n_rows,
            "note": note,
            "vacuumed": False,
        }
        tmp = self._commit_path(version).with_suffix(".json.tmp")
        tmp.write_text(json.dumps(entry, indent=2))
        tmp.replace(self._commit_path(version))  # atomic commit
        return version

    # -- read ---------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """``VERSION AS OF version`` (latest committed when None)."""
        hist = self.history()
        if not hist:
            raise VersionNotFoundError(f"{self.path}: no committed versions")
        by_v = {h["version"]: h for h in hist}
        if version is None:
            version = hist[-1]["version"]
        entry = by_v.get(version)
        if entry is None:
            raise VersionNotFoundError(
                f"{self.path}: version {version} was never committed "
                f"(have {sorted(by_v)})"
            )
        if entry.get("vacuumed"):
            raise VersionNotFoundError(
                f"{self.path}: version {version} was vacuumed — history "
                f"retains its metadata only"
            )
        return read_parquet(spark, str(Path(self.path) / f"v={version}"))

    # -- retention ----------------------------------------------------------
    def vacuum(self, keep_last: int, reclaim_stale_claims: bool = False) -> list[int]:
        """Drop data for all but the last ``keep_last`` committed
        versions (history rows survive, marked ``vacuumed``).

        Orphan ``v=*`` directories are removed ONLY when no claim
        marker covers them — a claimed-but-uncommitted version is an
        in-flight ``write()`` whose data must not be deleted out from
        under it (the round-7-flagged race).  Crashed claims are
        therefore indistinguishable from in-flight ones and leak by
        default; ``reclaim_stale_claims=True`` removes claimed-but-
        uncommitted versions too — ONLY safe when the caller
        guarantees no writer is currently mid-flight (single
        maintenance process).

        Returns the committed versions whose data was removed.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self._migrate_legacy()
        hist = self.history()
        removed: list[int] = []
        expired = hist[:-keep_last] if len(hist) > keep_last else []
        for h in expired:
            if h["vacuumed"]:
                continue
            shutil.rmtree(Path(self.path) / f"v={h['version']}", ignore_errors=True)
            h["vacuumed"] = True
            cp = self._commit_path(h["version"])
            cp.parent.mkdir(parents=True, exist_ok=True)
            tmp = cp.with_suffix(".json.tmp")
            tmp.write_text(json.dumps(h, indent=2))
            tmp.replace(cp)
            removed.append(h["version"])
        committed = {h["version"] for h in hist}
        # Order matters: enumerate the data directories BEFORE reading the
        # claim set.  A writer creates its claim strictly before its data
        # directory, so any directory the glob sees already has a visible
        # claim by the time we read the claims — the reverse order let a
        # writer that claimed between the two reads look like an orphan
        # (round-8 review).
        orphan_candidates = list(self._root().glob("v=*"))
        claimed = self._claimed_versions()
        for d in orphan_candidates:
            try:
                v = int(d.name.split("=", 1)[1])
            except ValueError:
                continue
            if v in committed:
                continue
            if v in claimed and not reclaim_stale_claims:
                continue  # possibly in-flight — never race a writer
            if not reclaim_stale_claims and (self._claims_dir() / f"v={v}").exists():
                continue  # claim landed after our snapshot — in-flight writer
            shutil.rmtree(d, ignore_errors=True)
            (self._claims_dir() / f"v={v}").unlink(missing_ok=True)
        if reclaim_stale_claims:
            for v in claimed - committed:
                (self._claims_dir() / f"v={v}").unlink(missing_ok=True)
        return removed
