"""T1 new/old-visitor repair (``streaming/stateful.py::visitor_repair``):
each rule over several micro-batches of one query, parity with its batch
twin ``visitor_repair_batch`` on the smoke events, and the error a session
without the engine's jar gets.

Every micro-batch is one staged slice of ``_MicroBatchStage``. No key's
first batch holds two rows on its earliest day that disagree on is_new,
so no expected value depends on the order of rows within a batch."""

from __future__ import annotations

import types

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from tests.conftest import SF_SMOKE

SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("mid", "dt", "is_new", "payload")]
)

# (mid, dt, is_new, payload, expected is_new), one list per micro-batch
BATCHES = [
    [
        # first batch spans two days, the later day staged first
        ("a", "2024-01-02", "1", "a2", "0"),
        ("a", "2024-01-01", "1", "a1", "1"),
        # "0" with no state backfills the epoch day
        ("b", "2024-01-01", "0", "b1", "0"),
        # a null dt sorts last and never equals the first visit date
        ("c", None, "1", "c0", "0"),
        ("c", "2024-01-03", "1", "c1", "1"),
        # only null dts: no first visit date yet
        ("d", None, "1", "d0", "0"),
        ("e", "2024-01-01", "1", "e1", "1"),
    ],
    [
        ("a", "2024-01-03", "1", "a3", "0"),
        ("b", "2024-01-02", "1", "b2", "0"),
    ],
    [
        ("b", "2024-01-01", "1", "b3", "0"),
        ("d", "2024-01-05", "1", "d1", "1"),
    ],
    [
        # e reappears three batches later: only its first day stays new
        ("e", "2024-01-04", "1", "e4", "0"),
        ("e", "2024-01-01", "1", "e5", "1"),
        ("c", "2024-01-03", "1", "c2", "1"),
    ],
]


def test_visitor_repair_rules_across_micro_batches(spark):
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        _MicroBatchStage,
        _twin_confs,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import visitor_repair

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-t1-rules-")
        for batch in BATCHES:
            stage.stage_slice(
                spark.createDataFrame([r[:4] for r in batch], SCHEMA)
            )
        out = stage.run_to_parquet(
            spark, visitor_repair(stage.read_stream(spark, SCHEMA))
        )
        got = {r.payload: r.is_new for r in out.collect()}
    assert got == {r[3]: r[4] for batch in BATCHES for r in batch}


def test_visitor_repair_stream_matches_batch_twin(spark):
    """The smoke events as four ascending day ranges, keyed on user_id with
    every row claiming new: a row stays new iff it falls on the user's
    first day, as in ``visitor_repair_batch``."""
    from realtimedatawarehouse_self_spark.plans.advanced import (
        visitor_repair_batch,
    )
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        _MicroBatchStage,
        _stage_ranges,
        _twin_confs,
    )
    from realtimedatawarehouse_self_spark.sources.tables import load_table
    from realtimedatawarehouse_self_spark.streaming.stateful import visitor_repair

    with _twin_confs(spark):
        events = load_table(spark, SF_SMOKE, "events").select(
            F.col("user_id").cast("string").alias("user_id"),
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            F.lit("1").alias("is_new"),
            F.col("event_id").cast("string").alias("payload"),
            F.unix_date(F.to_date("ts")).alias("day"),
        )
        stage = _MicroBatchStage("rtdw-t1-parity-")
        _stage_ranges(stage, events, "day", 4)
        out = stage.run_to_parquet(
            spark,
            visitor_repair(
                stage.read_stream(spark, events.schema).drop("day"), key="user_id"
            ),
        )
        got = {int(r.payload): int(r.is_new) for r in out.collect()}
    want = {
        r.event_id: r.is_new
        for r in visitor_repair_batch(spark, SF_SMOKE).collect()
    }
    assert len(want) > 0 and 0 < sum(want.values()) < len(want)
    assert got == want


def test_visitor_repair_names_get_spark_without_the_jar(spark):
    missing = spark._jvm.rtdw.NoSuchProcessor  # py4j: a package, not a class
    jvm = types.SimpleNamespace(rtdw=types.SimpleNamespace(VisitorRepair=missing))
    events = types.SimpleNamespace(sparkSession=types.SimpleNamespace(_jvm=jvm))
    from realtimedatawarehouse_self_spark.streaming.stateful import visitor_repair

    with pytest.raises(RuntimeError, match="get_spark"):
        visitor_repair(events)
