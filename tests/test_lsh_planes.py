"""functions/similarity.deterministic_planes: memoized, yet every call
returns the md5 constants in fresh lists."""

from __future__ import annotations

import hashlib

from amazon_books_review_spark.functions.similarity import deterministic_planes


def _md5_component(table: int, p: int, d: int) -> float:
    h = hashlib.md5(f"{table}|{p}|{d}".encode()).hexdigest()[:8]
    return int(h, 16) / float(16**8) * 2.0 - 1.0


def test_planes_equal_the_md5_formula():
    planes = deterministic_planes(3, 5, table=2)
    assert planes == [[_md5_component(2, p, d) for d in range(5)] for p in range(3)]


def test_mutating_a_result_leaves_the_next_call_alone():
    first = deterministic_planes(2, 4, 1)
    expected = [row[:] for row in first]
    first[0][0] = 99.0
    first.append([0.0])
    assert deterministic_planes(2, 4, 1) == expected
