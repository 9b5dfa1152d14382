"""Differential test: every registered query with an oracle must
match DuckDB at sf0.001 (fast) — the driver repeats this at sf0.01."""

from __future__ import annotations

import pytest

from osarchiver_spark.queries import all_oracles, all_queries
from tests.oracle_harness import compare_query

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity_small(spark, sf_small, name):
    compare_query(spark, name, _QUERIES[name], _ORACLES[name], sf_small)


# Smoke-run ONLY queries that have no oracle (r12 optimization round):
# every oracled query is already fully executed and value-compared by
# test_oracle_parity_small above, so re-running all 222 of them here
# doubled the file's wall (~444 Spark executions incl. eager substeps)
# for zero extra signal. Today the registry is 100% oracled, so this
# parametrization is empty; it exists so any FUTURE unoracled query
# still gets an execution smoke test. The two are coupled: skipping or
# xfailing a parity case drops that query's ONLY execution coverage, so
# a query taken out of parity must be added to this smoke
# parametrization by hand.
_UNORACLED = sorted(set(_QUERIES) - set(_ORACLES))


@pytest.mark.parametrize("name", _UNORACLED or ["<all queries oracled>"])
def test_query_runs(spark, sf_small, name):
    if name == "<all queries oracled>":
        pytest.skip("every registered query has an oracle; parity covers it")
    df = _QUERIES[name](spark, sf_small)
    assert df.count() >= 0
