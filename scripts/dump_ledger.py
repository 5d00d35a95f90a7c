"""Regenerate COVERAGE.md's driver-verification ledger from artifacts.

The ledger must never be hand-maintained (ADVICE r3): the source of
truth is the set of recorded ``CORRECTNESS_r*.json`` files, which
``catalog.DRIVER_VERIFIED`` already scans at import.  This script
rewrites everything from the "## Driver verification ledger" heading to
the end of COVERAGE.md with a table derived from that scan plus the
current window composition.

Usage: python scripts/dump_ledger.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from amazon_books_review_spark.plans.catalog import (  # noqa: E402
    DRIVER_VERIFIED,
    all_oracles,
    all_queries,
    change_evicted,
    driver_name,
    driver_queries,
)

HEADING = "## Driver verification ledger (per-query hard-signal audit)"
WINDOW = 50


def render() -> str:
    oracles = set(all_oracles())
    window = set(list(driver_queries())[:WINDOW])
    import re

    rounds = [
        int(m.group(1))
        for p in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"CORRECTNESS_r(\d+)", p.name))
    ]
    stamp = f"r{max(rounds):02d}" if rounds else "none"
    lines = [
        HEADING,
        "",
        f"Generated after round {stamp} artifacts (latest CORRECTNESS file scanned).",
        "Derived from the recorded `CORRECTNESS_r*.json` artifacts by",
        "`scripts/dump_ledger.py` (same scan as `catalog.DRIVER_VERIFIED`) —",
        "do not edit by hand.  The round driver hash-checks only the first",
        "50 `queries()` entries in dict iteration order, so driver-green and",
        "local-parity-green are distinct claims.  **pending** = no",
        "CORRECTNESS file contains a green row for the name yet (these are",
        "local-parity green at sf0.001/sf0.01 only); **evicted** = the",
        "implementation or oracle changed AFTER its last green row",
        "(`verified_hashes.json` source-hash mismatch), so it re-enters the",
        "window under its canonical name; \"in window\" = the name is inside",
        "the next round's 50-row window.",
        "",
        "| Query | Oracle | Last driver round | In next window |",
        "|---|---|---|---|",
    ]
    pending = 0
    evicted = 0
    for name in sorted(all_queries()):
        kind = "oracle" if name in oracles else "rows-only"
        rnd = DRIVER_VERIFIED.get(name)
        if rnd is None:
            status = "**pending**"
            pending += 1
        elif change_evicted(name):
            status = f"r{rnd} → **evicted**"
            evicted += 1
        else:
            status = f"r{rnd}"
        in_win = "yes" if driver_name(name) in window else ""
        lines.append(f"| `{name}` | {kind} | {status} | {in_win} |")
    total = len(all_queries())
    overflow = sorted(
        n for n in all_queries() if n not in DRIVER_VERIFIED and n not in window
    )
    lines += [
        "",
        f"{total} queries: {total - pending} driver-green at least once, "
        f"{pending} pending, {evicted} change-evicted for re-verification "
        f"(all pending inside the next round's window: "
        f"{'yes' if not overflow else 'NO'}).",
    ]
    if overflow:
        lines.append(
            "Window overflow — pending names deferred to the following round "
            "(local-parity green meanwhile): "
            + ", ".join(f"`{p}`" for p in overflow) + "."
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    cov = REPO / "COVERAGE.md"
    text = cov.read_text()
    idx = text.index(HEADING)
    cov.write_text(text[:idx] + render())
    print(f"rewrote ledger section of {cov}")


if __name__ == "__main__":
    main()
