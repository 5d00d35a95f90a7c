"""The local correctness gate: every catalog query vs its DuckDB oracle.

Parametrized over the full catalog so a new @query registration is
automatically under test.  Runs at sf0.001 for speed; the driver runs
the same comparison at sf0.01.
"""

from __future__ import annotations

import pytest

from amazon_books_review_spark.plans.catalog import all_oracles, all_queries
from tests.oracle_harness import run_parity

QUERIES = all_queries()
ORACLES = all_oracles()


def test_catalog_nonempty():
    assert QUERIES, "query catalog is empty"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    problems = run_parity(spark, sf_dir, name, QUERIES[name], ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


#: entries whose graph loop takes the small-input local arm at the test
#: scale; their parity is checked a second time on the distributed loop
DISTRIBUTED_ARM_PARITY = (
    "dedup_clusters",
    "embedding_semdedup_clusters",
    "label_propagation_communities",
    "pagerank_copurchase",
)


@pytest.mark.parametrize("name", DISTRIBUTED_ARM_PARITY)
def test_distributed_arm_matches_oracle(spark, sf_dir, name, distributed_arm):
    problems = run_parity(spark, sf_dir, name, QUERIES[name], ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    """Non-SQL-expressible entries must at least run and return rows."""
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
