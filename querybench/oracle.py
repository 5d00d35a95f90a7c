"""Output checks against the DuckDB oracles, with the expected results
cached on disk.

An oracle's result depends only on its SQL and the input tables, and
the inputs depend only on (generator source, scale, seed), so the cache
key is the input directory's key plus a digest of the SQL.  Missing
results are computed in a child process (this file run as a script),
so DuckDB's memory never counts in the benchmark process's peak RSS.
The comparison itself is the repository's oracle harness
(``tests/oracle_harness.py``), loaded by path and used unmodified.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd


def load_harness(path: Path):
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def result_path(cache_dir: Path, name: str, sql: str) -> Path:
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return cache_dir / f"{name}-{digest}.pkl"


class OracleCache:
    """Expected results for one input directory, computed once each."""

    def __init__(self, harness_path: Path, input_dir: Path, cache_dir: Path) -> None:
        self._harness_path = harness_path
        self._harness = load_harness(harness_path)
        self._input_dir = input_dir
        self._cache_dir = cache_dir

    def fill(self, oracles: dict[str, str]) -> None:
        """Compute the expected results not yet cached, in a child
        process.  An oracle that raises there leaves its result missing,
        which fails that query's check."""
        missing = {
            name: sql for name, sql in oracles.items()
            if not result_path(self._cache_dir, name, sql).exists()
        }
        if missing:
            subprocess.run(
                [sys.executable, __file__, str(self._harness_path),
                 str(self._input_dir), str(self._cache_dir)],
                input=json.dumps(missing), text=True, check=False,
            )

    def check(self, name: str, sql: str, actual: pd.DataFrame) -> list[str]:
        """Mismatch descriptions (empty when the output matches)."""
        path = result_path(self._cache_dir, name, sql)
        if not path.exists():
            return [f"no oracle result for {name} (its oracle raised)"]
        return self._harness.compare_frames(actual, pd.read_pickle(path))


def _compute(harness_path: str, input_dir: str, cache_dir: str) -> None:
    """Run each oracle on stdin's ``{name: sql}`` and cache its result."""
    oracles = json.load(sys.stdin)
    con = load_harness(Path(harness_path)).duckdb_connection(input_dir)
    out = Path(cache_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, sql in oracles.items():
        try:
            result = con.execute(sql).fetchdf()
        except Exception as exc:  # noqa: BLE001 — the check reports it
            print(f"oracle {name}: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
            continue
        path = result_path(out, name, sql)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        result.to_pickle(tmp)
        os.replace(tmp, path)
    con.close()


if __name__ == "__main__":
    _compute(*sys.argv[1:4])
