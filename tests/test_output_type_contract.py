"""Output-type contract: no HUGEINT/DECIMAL at any query's top level.

Root cause of the 9 round-5 driver hash-reds (VERDICT r5 #1): the external
driver's order-insensitive value-hash renders DuckDB HUGEINT / DECIMAL(38,0)
cells differently from plain BIGINT even when the integer values are
bit-identical, and Spark DecimalType cells likewise stringify differently
from LongType.  The in-repo comparator (tests/oracle_harness.py) normalizes
Python values and so never saw the divergence.  This suite teaches the repo
gate the driver's actual behavior — the third such divergence class in six
rounds (r3 timestamps, r1 stdout tail, r5 wide-integer rendering):

* every oracle's DESCRIBE must be free of HUGEINT / UHUGEINT / DECIMAL —
  i.e. every un-cast sum(BIGINT) or ``//`` in a final SELECT is a bug;
* every Spark query's top-level schema must be free of DecimalType
  (wide-decimal arithmetic stays INTERNAL; the output boundary is int64);
* neither side may emit DATE / TIMESTAMP at top level (the r3 class:
  DuckDB's fetchdf renders DATE as ``2024-01-01 00:00:00`` while Spark
  renders ``2024-01-01``) — day buckets are rendered as strings via
  ``date_format(d, 'yyyy-MM-dd')`` / ``strftime(d, '%Y-%m-%d')``.

The DuckDB side is schema-only: DESCRIBE plans without executing. The
Spark side is not: `.schema` itself is resolved by the analyzer, but it is
read from the frame a query function returns, and every streaming twin
(``plans/streaming_twins.py``) stages its input and runs its whole
micro-batch stream inside that function. The Spark check therefore reads
the session's one build pass over the registry (``registry_builds`` in
conftest), which the job-count and Python-UDF contracts share, so the 28
twins run once per session rather than once per sweep.
"""

from __future__ import annotations

import pytest

from realtimedatawarehouse_self_spark import plans
from tests.conftest import SF_SMOKE
from tests.oracle_harness import register_duckdb_views

BANNED_DUCK = ("HUGEINT", "DECIMAL", "DATE", "TIMESTAMP")  # UHUGEINT contains HUGEINT


def _oracle_items():
    return sorted(plans.all_oracles().items())


@pytest.mark.parametrize(
    "name,sql", _oracle_items(), ids=[n for n, _ in _oracle_items()]
)
def test_oracle_describe_is_wide_integer_free(duck, name, sql):
    register_duckdb_views(duck, SF_SMOKE)
    rows = duck.execute(f"DESCRIBE ({sql})").fetchall()
    offenders = [
        (col, typ)
        for col, typ, *_ in rows
        if any(b in typ.upper() for b in BANNED_DUCK)
    ]
    assert not offenders, (
        f"oracle {name!r} emits driver-hash-unsafe top-level types "
        f"{offenders}; CAST the final SELECT to BIGINT (driver renders "
        f"HUGEINT/DECIMAL differently from BIGINT — r5 hash-red class)"
    )


def test_all_spark_schemas_are_decimal_and_temporal_free(registry_builds):
    """Every registered query's schema, from the session's one sf0.001
    build pass (`registry_builds` in conftest). The schema check itself is
    analyzer-only, but building a streaming twin runs its stream."""
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        TimestampNTZType,
        TimestampType,
    )

    banned = (DecimalType, DateType, TimestampType, TimestampNTZType)
    offenders = {}
    for name, build in sorted(registry_builds.items()):
        bad = [f.name for f in build.schema.fields if isinstance(f.dataType, banned)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"Spark queries emit top-level Decimal/Date/Timestamp columns "
        f"{offenders}; keep wide arithmetic internal, cast integers to "
        f"bigint, and render day buckets via date_format (r5 + r3 "
        f"hash-red classes)"
    )
