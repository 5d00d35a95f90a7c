"""Driver verification-window invariants (VERDICT r3 "do this" #1-#3).

The round driver records CORRECTNESS rows for the first 50 entries of
``__spark_entry__.queries()`` **in dict iteration order** (round 3
proved empirically that it does not re-sort: CORRECTNESS_r03.json was
exactly the iteration-order prefix, which is why the r3 rotation —
sorted by canonical name — silently verified nothing new).

``catalog.driver_queries`` / ``driver_oracles`` therefore build their
dicts sorted by the DRIVER-FACING key, with already-verified names
rotated behind a round-stamped ``zz_rNN_`` prefix.  These tests lock:

* the rename is a bijection (no collisions, perfectly invertible),
* queries and oracles use the same mapping (the driver pairs by key),
* iteration order equals alphabetical order (window identical under
  either driver model),
* the ledger is derived from the recorded CORRECTNESS_r*.json
  artifacts, not hand-maintained,
* a simulation of the driver's exact consumption —
  ``list(__spark_entry__.queries().items())[:50]`` — covers every
  never-verified query, plus the stalest verified ones.
"""

from __future__ import annotations

import json
from pathlib import Path

from amazon_books_review_spark.plans.catalog import (
    DRIVER_VERIFIED,
    all_oracles,
    all_queries,
    canonical_name,
    driver_name,
    driver_oracles,
    driver_queries,
)

WINDOW = 50
REPO = Path(__file__).resolve().parents[1]


def test_rename_is_bijective():
    names = sorted(all_queries())
    renamed = [driver_name(n) for n in names]
    assert len(set(renamed)) == len(names), "driver_name collides"
    assert [canonical_name(r) for r in renamed] == names


def test_driver_verified_names_exist():
    missing = set(DRIVER_VERIFIED) - set(all_queries())
    assert not missing, f"DRIVER_VERIFIED references unknown queries: {missing}"


def test_driver_verified_is_derived_from_artifacts():
    """The ledger must agree row-for-row with the recorded artifacts:
    a name is verified iff its LATEST recorded signal is green."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.split("_r")[1])
        for key, row in json.loads(path.read_text()).items():
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            name = canonical_name(key)
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, green)
    expected = {n: rnd for n, (rnd, green) in latest.items() if green}
    assert DRIVER_VERIFIED == expected


def test_red_row_invalidates_earlier_green(tmp_path):
    """A regression recorded in a later round must drop the query back
    to unverified — not leave it 'verified at the older round' (where
    it would sort BEHIND the stale re-checks, outside the window)."""
    from amazon_books_review_spark.plans.catalog import _scan_correctness_artifacts

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_stays_green": {"hash_match": True},
        "q_regressed": {"hash_match": True},
        "q_crashed": {"err": "no_oracle", "spark_rows": 5},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "zz_r01_q_regressed": {"hash_match": False, "err": "hash mismatch"},
        "zz_r01_q_crashed": {"err": "no_oracle", "spark_rows": None},
        "q_new": {"hash_match": True},
    }))
    out = _scan_correctness_artifacts(tmp_path)
    assert out == {"q_stays_green": (1, "hash"), "q_new": (2, "hash")}


def test_changed_source_evicts_ledger_entry(monkeypatch):
    """VERDICT r7 #2: a query rewritten after its green row must drop
    back to unverified and re-enter the window under its canonical
    name.  Simulated by perturbing the recorded hash — equivalent to
    the source changing, since eviction is exactly hash inequality."""
    import amazon_books_review_spark.plans.catalog as cat

    # pick any currently-verified, non-evicted name whose green
    # row is WITHIN the ledger's horizon — a row greened after the last
    # refresh has no hash entry yet and is trusted by design (see
    # test_green_row_newer_than_ledger_is_trusted), so perturbing the
    # ledger would not evict it.
    name = next(
        n for n in sorted(cat.DRIVER_VERIFIED)
        if not cat.change_evicted(n)
        and cat.DRIVER_VERIFIED[n] <= cat.VERIFIED_HASHES_ROUND
    )
    assert driver_name(name).startswith("zz_")
    monkeypatch.setitem(cat.VERIFIED_HASHES, name, "0" * 16)
    assert cat.change_evicted(name)
    assert driver_name(name) == name  # canonical -> leads the window


def test_missing_hash_entry_evicts(monkeypatch):
    """No recorded hash at all (new ledger, unresolved round) must
    fail safe: treat as changed, re-verify — for rows the ledger's
    coverage horizon has seen."""
    import amazon_books_review_spark.plans.catalog as cat

    name = next(
        n for n in sorted(cat.DRIVER_VERIFIED)
        if not cat.change_evicted(n)
        and cat.DRIVER_VERIFIED[n] <= cat.VERIFIED_HASHES_ROUND
    )
    monkeypatch.delitem(cat.VERIFIED_HASHES, name)
    assert cat.change_evicted(name)
    assert driver_name(name) == name


def test_green_row_newer_than_ledger_is_trusted(monkeypatch):
    """A row the driver greens AFTER the last ledger refresh must NOT
    evict just because the ledger hasn't hashed it yet — otherwise
    every fresh round's names re-consume window slots at next round's
    start before anyone can run the refresh script."""
    import amazon_books_review_spark.plans.catalog as cat

    name = next(
        n for n in sorted(cat.DRIVER_VERIFIED)
        if not cat.change_evicted(n)
        and cat.DRIVER_VERIFIED[n] <= cat.VERIFIED_HASHES_ROUND
    )
    # simulate: this name's green row postdates the ledger, no hash yet
    monkeypatch.setitem(cat.DRIVER_VERIFIED, name, cat.VERIFIED_HASHES_ROUND + 1)
    monkeypatch.delitem(cat.VERIFIED_HASHES, name)
    assert not cat.change_evicted(name)


def test_src_hash_tracks_source_and_oracle():
    """hash_parts must differ on either a source or an oracle change
    and be stable otherwise (the ledger's soundness)."""
    from amazon_books_review_spark.plans.catalog import hash_parts

    h = hash_parts("def q(): ...", "SELECT 1")
    assert h == hash_parts("def q(): ...", "SELECT 1")
    assert h != hash_parts("def q(): pass", "SELECT 1")
    assert h != hash_parts("def q(): ...", "SELECT 2")
    assert h != hash_parts("def q(): ...", None)


def test_evicted_names_lead_the_window():
    """Change-evicted names sort under canonical names — before every
    zz_-prefixed verified name — so the driver re-checks them FIRST."""
    import amazon_books_review_spark.plans.catalog as cat

    window = list(driver_queries())[:WINDOW]
    evicted = sorted(n for n in all_queries() if cat.change_evicted(n))
    for n in evicted:
        assert n in window, f"evicted {n} missing from the driver window"
        assert not driver_name(n).startswith("zz_")


def test_ledger_covers_every_verified_query():
    """Every name with a green driver row needs a recorded hash, else
    it is perpetually evicted — fine for a round, wrong as steady
    state.  Run scripts/refresh_verified_hashes.py after the driver
    commits a round's artifacts."""
    import amazon_books_review_spark.plans.catalog as cat

    unhashed = {
        n for n in set(cat.DRIVER_VERIFIED) - set(cat.VERIFIED_HASHES)
        # rows newer than the ledger's horizon are trusted until the
        # next refresh — only rows the ledger SHOULD cover may be bare
        if cat.DRIVER_VERIFIED[n] <= cat.VERIFIED_HASHES_ROUND
    }
    assert not unhashed, (
        f"verified names without a ledger hash: {sorted(unhashed)} — "
        f"run scripts/refresh_verified_hashes.py"
    )


def test_queries_and_oracles_share_the_mapping():
    dq = driver_queries()
    do = driver_oracles()
    assert set(do) <= set(dq)
    for name, sql in all_oracles().items():
        assert do[driver_name(name)] == sql


def test_iteration_order_is_alphabetical():
    """Window identical whether the driver takes iteration order or re-sorts."""
    dq = list(driver_queries())
    assert dq == sorted(dq)
    do = list(driver_oracles())
    assert do == sorted(do)


def test_unverified_queries_fit_in_driver_window():
    # The driver consumes ITERATION order — assert on the iteration prefix,
    # not a re-sort (re-sorting here is exactly what masked the r3 failure).
    window = list(driver_queries())[:WINDOW]
    unverified = [n for n in all_queries() if n not in DRIVER_VERIFIED]
    assert len(unverified) <= WINDOW, (
        f"{len(unverified)} unverified queries cannot all fit in the "
        f"{WINDOW}-row window — trim additions this round"
    )
    outside = sorted(n for n in unverified if n not in window)
    assert not outside, (
        f"{len(outside)} unverified queries fall outside the driver's "
        f"{WINDOW}-row window: {outside}"
    )


def test_remaining_window_slots_go_to_stalest_verified():
    window = list(driver_queries())[:WINDOW]
    rounds_in = [DRIVER_VERIFIED[canonical_name(k)] for k in window if k.startswith("zz_")]
    rounds_out = [
        DRIVER_VERIFIED[canonical_name(k)]
        for k in list(driver_queries())[WINDOW:]
        # a pending name past the window fails the test above
        if canonical_name(k) in DRIVER_VERIFIED
    ]
    # every verified name inside the window is at least as stale as any outside
    if rounds_in and rounds_out:
        assert max(rounds_in) <= min(rounds_out)


def test_spark_entry_simulated_driver_window():
    """Simulate the driver exactly: first 50 items of queries() as iterated."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert sorted(q) == sorted(driver_queries())

    consumed = [k for k, _fn in list(q.items())[:WINDOW]]
    unverified = {n for n in all_queries() if n not in DRIVER_VERIFIED}
    missing = unverified - set(consumed)
    assert not missing, (
        f"driver would NOT verify these never-verified queries: {sorted(missing)}"
    )
    # Every window entry must carry a hard oracle unless it is on the
    # explicit rows-only allowlist — a new oracle-less registration
    # would otherwise silently consume a hard-gate slot for a weaker
    # rows-only signal.  Extending the allowlist is a conscious act.
    ROWS_ONLY_OK = {"sessionize_events_stateful"}
    for key in consumed:
        assert key in o or canonical_name(key) in ROWS_ONLY_OK, (
            f"{key} is in the driver window without an oracle and is not a "
            f"declared rows-only entry"
        )


def test_helper_rewrite_changes_src_hash():
    """The ledger hash must be HELPER-AWARE (the round-8 KMV incident:
    the estimator rewrite lived in a helper the registered audit
    calls, and a fn-source-only hash kept the stale green row).  A
    query's src_hash folds in the one-level closure, so two functions
    with identical bodies but different referenced helpers hash apart."""
    from amazon_books_review_spark.plans import catalog as cat
    from amazon_books_review_spark.plans import scale_ops_queries as sq

    closure = cat.helper_sources(sq.kmv_intersection_audit)
    assert "kmv_intersection_estimates" in closure, (
        "one-level helper expansion lost the KMV estimator — the exact "
        "round-8 blind spot"
    )
    # and the registered hash actually uses it
    import inspect

    entry = cat._REGISTRY.get("kmv_intersection_audit")
    if entry is not None:
        expected = cat.hash_parts(
            inspect.getsource(sq.kmv_intersection_audit)
            + cat.helper_sources(sq.kmv_intersection_audit),
            entry.oracle,
        )
        assert entry.src_hash == expected
