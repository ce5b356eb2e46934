"""The repo's own correctness gate: every query in __spark_entry__.queries()
has an oracle, and every one of them must hash-match DuckDB on the sf0.001
tables in every run of the suite.

Set SPARK_GRAFT_PARITY_SF=sf0.01 to run the same check at the larger scale.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import TESTDATA
from tests.oracle_harness import compare_query, register_duckdb_views

SF = os.path.join(TESTDATA, os.environ.get("SPARK_GRAFT_PARITY_SF", "sf0.001"))


def _all_names():
    import __spark_entry__ as e

    return sorted(e.oracle_sql().keys())


@pytest.mark.parametrize("name", _all_names())
def test_oracle_parity(spark, duck, name):
    import __spark_entry__ as e

    q = e.queries()[name]
    sql = e.oracle_sql()[name]
    register_duckdb_views(duck, SF)
    df = q(spark, SF)
    ok, detail = compare_query(df, duck, sql)
    assert ok, f"{name}: {detail}"


def test_every_query_has_callable(spark):
    import __spark_entry__ as e

    qs = e.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert df.columns
