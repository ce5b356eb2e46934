"""Testdata-drift guard for ``load_table`` (VERDICT r3 task #2).

The driver regenerates ``/root/testdata`` between rounds and the physical
encoding of ``events.ts`` has already drifted once (INT64 TIMESTAMP(NANOS)
-> timestamp[us]); that drift broke 33 queries before any in-repo test
noticed. This module pins the loader's contract against BOTH encodings so
the next drift fails pytest, not the driver:

  * the live testdata at sf0.001 (whatever the driver currently writes);
  * a synthetic nanos-INT64 events parquet written here via pyarrow.

Reference semantics covered: every events-derived pipeline
(``R/app/dws/*``, ``R/app/dim/DimApp.java``) depends on this loader.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

from realtimedatawarehouse_self_spark.sources.tables import TABLES, load_table


def test_live_events_ts_loads_as_timestamp(spark):
    df = load_table(spark, SF_SMOKE, "events")
    assert df.schema["ts"].dataType.simpleString() in ("timestamp",), (
        "events.ts must load as TIMESTAMP (tz-bearing, UTC session) "
        f"but got {df.schema['ts'].dataType}"
    )
    row = df.selectExpr("min(ts) AS lo", "max(ts) AS hi", "count(*) AS n").first()
    assert row["n"] > 0
    assert isinstance(row["lo"], datetime.datetime)
    # Sanity window: driver generates 2024-era events.
    assert datetime.datetime(2020, 1, 1) < row["lo"] < datetime.datetime(2100, 1, 1)


def test_live_events_matches_duckdb_values(spark, duck):
    """Value-level parity with DuckDB reading the same file — the exact
    comparison the driver's oracle harness performs."""
    path = os.path.join(SF_SMOKE, "events.parquet")
    df = load_table(spark, SF_SMOKE, "events")
    s_row = df.selectExpr(
        "date_format(min(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS lo",
        "date_format(max(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS hi",
    ).first()
    d_lo, d_hi = duck.execute(
        "SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f'),"
        "       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')"
        f" FROM read_parquet('{path}')"
    ).fetchone()
    assert s_row["lo"] == d_lo
    assert s_row["hi"] == d_hi


def test_synthetic_nanos_int64_events_still_load(spark, tmp_path):
    """The legacy encoding (INT64 TIMESTAMP(NANOS)) must keep working: the
    loader reads it as raw nanos via nanosAsLong and truncates to micros."""
    sf_dir = str(tmp_path)
    nanos = [1704067200_000_000_000 + i * 1_500_000_123 for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([1, 2, 1, 3, 2], pa.int64()),
            "event_type": pa.array(["view"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array(["{}"] * 5),
        }
    )
    pq.write_table(
        table,
        os.path.join(sf_dir, "events.parquet"),
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,  # keep NANOS annotation
        store_schema=False,
    )
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").select("ts").collect()]
    want = [
        datetime.datetime.utcfromtimestamp((n // 1000) / 1e6).replace(
            microsecond=(n // 1000) % 1_000_000
        )
        for n in nanos
    ]
    assert got == want


def test_all_tables_load_nonempty(spark):
    for name in TABLES:
        assert load_table(spark, SF_SMOKE, name).limit(1).count() == 1, name


def test_table_rewritten_in_place_is_reinferred(spark, tmp_path):
    """A table rewritten at the same path with an extra column must not be
    read through the schema cached from the old file."""
    path = os.path.join(str(tmp_path), "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path
    )
    rows = load_table(spark, str(tmp_path), "region").orderBy("r_regionkey").collect()
    assert [r["r_name"] for r in rows] == ["AFRICA", "AMERICA"]
