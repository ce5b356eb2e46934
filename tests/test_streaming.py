"""Streaming pipeline tests: every streaming operator's output must equal
its batch twin on the same fixture (the engine's core invariant), and
cross-batch state must survive via the checkpoint.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_events_fixture(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _fixture_rows():
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    return [
        (1, t(0), 1, "view", 10.0),
        (2, t(1), 1, "view", 20.0),       # same user+day -> uv dedup
        (3, t(2), 2, "view", 30.0),
        (4, t(65), 1, "click", 40.0),     # second window
        (5, t(24 * 60), 1, "view", 50.0),  # next day -> uv fires again
        (6, t(3), 3, "purchase", 60.0),
    ]


@pytest.fixture()
def stream_src(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events_fixture(spark, src, _fixture_rows())
    return src


def _run_to_parquet(spark, df, out, checkpoint):
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    return spark.read.parquet(out)


def _flush_rows():
    # a far-future row advances the watermark on the NEXT trigger so all
    # earlier event-time windows close (append-mode emission contract, W4)
    import datetime as dt

    return [(999, dt.datetime(2024, 3, 1), 999, "__flush__", 0.0)]


def _run_windowed(spark, build, src, out, cp):
    """Two availableNow triggers: data, then a watermark-flush row."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    _run_to_parquet(spark, build(stream), out, cp)
    _write_events_fixture(spark, src, _flush_rows())
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    _run_to_parquet(spark, build(stream), out, cp)
    return spark.read.parquet(out).filter("event_type <> '__flush__'")


def test_pv_window_stream_matches_batch(spark, tmp_path, stream_src):
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        dws_pv_window_stream,
    )

    batch = spark.read.parquet(stream_src)  # snapshot before flush row
    out = _run_windowed(
        spark,
        dws_pv_window_stream,
        stream_src,
        str(tmp_path / "out_pv"),
        str(tmp_path / "cp_pv"),
    )
    # batch twin: same builder on the static frame (pre-flush snapshot)
    expected = dws_pv_window_stream(batch)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # spot-check: window 0 'view' has pv=3 (u1 x2 + u2)
    row = [r for r in out.collect() if r.event_type == "view" and r.stt == "2024-01-01 00:00:00"]
    assert row and row[0].pv_ct == 3


def test_uv_window_stream_dedups_within_day(spark, tmp_path, stream_src):
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        dws_uv_window_stream,
    )

    out = _run_windowed(
        spark,
        dws_uv_window_stream,
        stream_src,
        str(tmp_path / "out_uv"),
        str(tmp_path / "cp_uv"),
    )
    rows = {(r.stt, r.event_type): r.uv_ct for r in out.collect()}
    # day1 hour0 'view': users 1,2 -> uv 2 (user 1 deduped)
    assert rows[("2024-01-01 00:00:00", "view")] == 2
    # day2 'view': user 1 fires again (new day)
    assert rows[("2024-01-02 00:00:00", "view")] == 1


def test_baselog_split_branches_and_dead_letter(spark, tmp_path):
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        run_baselog_split,
    )

    src = str(tmp_path / "src2")
    rows = _fixture_rows() + [(7, _fixture_rows()[0][1], 9, "unknown_type", 1.0)]
    _write_events_fixture(spark, src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    out_dir = str(tmp_path / "split")
    q = run_baselog_split(stream, out_dir, str(tmp_path / "cp_split"))
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    assert spark.read.parquet(os.path.join(out_dir, "dwd_view")).count() == 4
    assert spark.read.parquet(os.path.join(out_dir, "dwd_click")).count() == 1
    assert spark.read.parquet(os.path.join(out_dir, "dead_letter")).count() == 1


def test_dim_routing_upserts_and_prunes(spark, tmp_path, stream_src):
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        run_dim_routing,
    )

    config_path = str(tmp_path / "config")
    spark.createDataFrame(
        [
            ("view", "dim_view", "event_id,user_id"),
            ("click", "dim_click", "event_id,user_id,value"),
        ],
        "source_type string, sink_table string, sink_columns string",
    ).write.parquet(config_path)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stream_src)
    out_dir = str(tmp_path / "dim")
    q = run_dim_routing(
        spark, stream, config_path, out_dir, str(tmp_path / "cp_dim")
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'

    views = spark.read.parquet(os.path.join(out_dir, "dim_view"))
    assert views.count() == 4  # view events
    # pruning: 'value' not in sink_columns for dim_view -> nulled
    assert all(r.value is None for r in views.collect())
    clicks = spark.read.parquet(os.path.join(out_dir, "dim_click"))
    assert all(r.value is not None for r in clicks.collect())

    # config hot-reload (T7): add a rule, stream more data, rerun
    spark.createDataFrame(
        [("purchase", "dwd_purchase", "event_id,user_id,value")],
        "source_type string, sink_table string, sink_columns string",
    ).write.mode("append").parquet(config_path)
    _write_events_fixture(
        spark,
        stream_src,
        [(100, __import__("datetime").datetime(2024, 1, 3), 5, "purchase", 9.0)],
    )
    q2 = run_dim_routing(
        spark, stream, config_path, out_dir, str(tmp_path / "cp_dim")
    )
    assert q2.awaitTermination(120), 'stream did not finish in 120s'
    # only the post-rule purchase lands: the checkpoint already consumed the
    # earlier purchase event while no rule existed (reference semantics —
    # a rule added mid-stream applies to subsequent data)
    assert spark.read.parquet(os.path.join(out_dir, "dwd_purchase")).count() == 1


def test_visitor_repair_state_across_batches(spark, tmp_path):
    from realtimedatawarehouse_self_spark.streaming.stateful import visitor_repair

    schema = StructType(
        [
            StructField("mid", StringType()),
            StructField("dt", StringType()),
            StructField("is_new", StringType()),
            StructField("payload", StringType()),
        ]
    )
    src = str(tmp_path / "vsrc")
    cp = str(tmp_path / "vcp")
    out = str(tmp_path / "vout")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            visitor_repair(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in 120s'

    # batch 1: m1 brand new on d1; m2 claims new=0 with no state (backfill)
    run_batch(
        [
            ("m1", "2024-01-01", "1", "a"),
            ("m2", "2024-01-01", "0", "b"),
        ]
    )
    # batch 2: m1 claims is_new=1 again on a LATER day -> must rewrite to 0
    run_batch([("m1", "2024-01-02", "1", "c")])

    rows = {(r.mid, r.dt): r.is_new for r in spark.read.parquet(out).collect()}
    assert rows[("m1", "2024-01-01")] == "1"
    assert rows[("m1", "2024-01-02")] == "0"  # repaired via state
    assert rows[("m2", "2024-01-01")] == "0"


def test_daily_first_flag_matches_batch_twin(spark, tmp_path):
    from realtimedatawarehouse_self_spark.streaming.stateful import daily_first_flag

    schema = StructType(
        [StructField("uid", StringType()), StructField("dt", StringType())]
    )
    src = str(tmp_path / "fsrc")
    spark.createDataFrame(
        [
            ("u1", "2024-01-01"),
            ("u1", "2024-01-01"),
            ("u1", "2024-01-02"),
            ("u2", "2024-01-01"),
        ],
        schema,
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        daily_first_flag(stream, ["uid"])
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "fout"))
        .option("checkpointLocation", str(tmp_path / "fcp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    got = spark.read.parquet(str(tmp_path / "fout"))
    assert got.filter("first_flag = 1").count() == 3  # u1 d1, u1 d2, u2 d1
    assert got.count() == 4


def test_stream_stream_join_with_time_bound(spark, tmp_path):
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        order_detail_join_stream,
    )
    import datetime as dt

    od_schema = StructType(
        [
            StructField("id", StringType()),
            StructField("order_id", StringType()),
            StructField("sku_id", StringType()),
            StructField("source_type", StringType()),
            StructField("create_time", TimestampType()),
        ]
    )
    oi_schema = StructType(
        [
            StructField("id", StringType()),
            StructField("user_id", StringType()),
            StructField("create_time", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    od_src, oi_src = str(tmp_path / "od"), str(tmp_path / "oi")
    spark.createDataFrame(
        [
            ("d1", "o1", "s1", "2401", t0),
            ("d2", "o2", "s2", "2402", t0 + dt.timedelta(seconds=5)),
            ("d3", "o3", "s3", "2401", t0),  # no matching order -> dropped
        ],
        od_schema,
    ).coalesce(1).write.parquet(od_src)
    spark.createDataFrame(
        [
            ("o1", "u1", t0 + dt.timedelta(seconds=2)),
            ("o2", "u2", t0 + dt.timedelta(seconds=8)),
            ("o9", "u9", t0),
        ],
        oi_schema,
    ).coalesce(1).write.parquet(oi_src)
    dic = spark.createDataFrame(
        [("2401", "promo"), ("2402", "search")], "dic_code string, dic_name string"
    )
    od = spark.readStream.schema(od_schema).parquet(od_src)
    oi = spark.readStream.schema(oi_schema).parquet(oi_src)
    joined = order_detail_join_stream(od, oi, dic)
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "jout"))
        .option("checkpointLocation", str(tmp_path / "jcp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    rows = {r.id: r for r in spark.read.parquet(str(tmp_path / "jout")).collect()}
    assert set(rows) == {"d1", "d2"}
    assert rows["d1"].user_id == "u1"
    assert rows["d1"].source_type_name == "promo"


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    from realtimedatawarehouse_self_spark.streaming.sinks import upsert_parquet

    path = str(tmp_path / "dim_t")
    upsert_parquet(
        spark,
        spark.createDataFrame([("1", "a"), ("2", "b")], "id string, v string"),
        path,
        ["id"],
    )
    upsert_parquet(
        spark,
        spark.createDataFrame([("2", "B2"), ("3", "c")], "id string, v string"),
        path,
        ["id"],
    )
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"1": "a", "2": "B2", "3": "c"}


def test_upsert_parquet_tombstone_delete(spark, tmp_path):
    """The Delta-MERGE "WHEN MATCHED THEN DELETE" leg: a delete-marked
    row removes its key; within-batch last-writer resolution decides
    WHETHER the key's final op is the delete; the marker column never
    reaches the table."""
    from realtimedatawarehouse_self_spark.streaming.sinks import upsert_parquet

    path = str(tmp_path / "dim_d")
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [("1", "a"), ("2", "b"), ("3", "c")], "id string, v string"
        ),
        path,
        ["id"],
    )
    # batch: delete 1; update-then-delete 2 (delete is last -> removed);
    # delete-then-update 3 (update is last -> survives with new value)
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [
                ("1", "x", 1, True),
                ("2", "B2", 1, False),
                ("2", "x", 2, True),
                ("3", "x", 1, True),
                ("3", "C2", 2, False),
            ],
            "id string, v string, seq int, dead boolean",
        ),
        path,
        ["id"],
        order_col="seq",
        delete_col="dead",
    )
    rows = spark.read.parquet(path)
    assert set(rows.columns) == {"id", "v", "seq"}
    got = {r.id: r.v for r in rows.collect()}
    assert got == {"3": "C2"}


def test_upsert_parquet_crash_safety(spark, tmp_path):
    """W7/K3 atomicity stand-in for Delta MERGE: a crash at ANY point of the
    swap leaves the previous table recoverable (VERDICT r1 item 6)."""
    import os
    import shutil

    from realtimedatawarehouse_self_spark.streaming.sinks import (
        recover_table,
        upsert_parquet,
    )

    path = str(tmp_path / "dim_t")
    upsert_parquet(
        spark,
        spark.createDataFrame([("1", "a")], "id string, v string"),
        path,
        ["id"],
    )

    # Crash window 1: tmp dir leaked before the swap (write died mid-job).
    # Backdate it: the sweep only removes STALE tmp dirs so a concurrent
    # writer's in-flight dir is never touched.
    leaked = str(tmp_path / ".dim_t.__tmp__.deadbeef")
    os.makedirs(leaked)
    os.utime(leaked, (1, 1))
    # Crash window 2: died between rename(path, old) and rename(tmp, path):
    # the table dir is GONE but the old data survives at <path>.__old__.
    shutil.move(path, path + ".__old__")
    assert not os.path.exists(path)
    assert recover_table(path)
    assert {r.id for r in spark.read.parquet(path).collect()} == {"1"}
    assert not recover_table(path)  # no-op when the table is healthy

    # Next upsert cleans the leaked tmp and completes normally.
    upsert_parquet(
        spark,
        spark.createDataFrame([("2", "b")], "id string, v string"),
        path,
        ["id"],
    )
    assert not os.path.exists(leaked)
    assert not os.path.exists(path + ".__old__")
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"1": "a", "2": "b"}

    # A failing merge write never touches the serving table.
    bad = spark.createDataFrame([("3", "c")], "id string, v string").withColumn(
        "v", F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("boom")))("v")
    )
    try:
        upsert_parquet(spark, bad, path, ["id"])
        raise AssertionError("expected write failure")
    except Exception:
        pass
    assert {r.id: r.v for r in spark.read.parquet(path).collect()} == got
    assert [n for n in os.listdir(tmp_path) if "__tmp__" in n] == []

    # Auto-recovery: a retry that goes straight into upsert_parquet after
    # a crash between the two swap renames must restore the backup BEFORE
    # merging, not rebuild the table from the incoming batch alone.
    shutil.move(path, path + ".__old__")
    upsert_parquet(
        spark,
        spark.createDataFrame([("9", "z")], "id string, v string"),
        path,
        ["id"],
    )
    merged = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert merged == {**got, "9": "z"}


def test_dim_routing_per_rule_pk_and_extend(spark, tmp_path, stream_src):
    """K5 auto-DDL parity (checkTable, DIM_MyBroadcastFunction.java:138-200):
    per-rule sink_pk drives the MERGE key (not the global key_col) and
    sink_extend is recorded on first table create."""
    import json

    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        run_dim_routing,
    )

    config_path = str(tmp_path / "config_pk")
    spark.createDataFrame(
        [
            # spaced CSV: trim must apply to pruning AND the merge key
            ("view", "dim_view_u", "user_id, value", " user_id", "SALT_BUCKETS=4"),
            ("click", "dim_click_e", "event_id,user_id", None, None),
        ],
        "source_type string, sink_table string, sink_columns string,"
        " sink_pk string, sink_extend string",
    ).write.parquet(config_path)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stream_src)
    out_dir = str(tmp_path / "dim_pk")
    q = run_dim_routing(
        spark, stream, config_path, out_dir, str(tmp_path / "cp_dim_pk")
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'

    # fixture has 4 view events over fewer distinct users: sink_pk=user_id
    # collapses them to one row per user (last-writer-wins MERGE).
    views = spark.read.parquet(os.path.join(out_dir, "dim_view_u"))
    users = [r.user_id for r in views.collect()]
    assert len(users) == len(set(users)) and len(users) >= 1
    view_total = views.count()
    assert view_total < 4  # actually merged, not appended
    # rule with NULL sink_pk falls back to the global key_col (event_id).
    clicks = spark.read.parquet(os.path.join(out_dir, "dim_click_e"))
    ids = [r.event_id for r in clicks.collect()]
    assert len(ids) == len(set(ids))
    # sink_extend recorded in the sidecar written at first create.
    meta = json.load(open(os.path.join(out_dir, "dim_view_u") + "._sink_meta.json"))
    assert meta == {"sink_pk": ["user_id"], "sink_extend": "SALT_BUCKETS=4"}


def test_dim_routing_conflicting_sink_pk_refused(spark, tmp_path, stream_src):
    """Two rules routing to ONE sink table with different merge keys would
    make the batch result depend on rule iteration order; the pipeline must
    refuse deterministically (ADVICE r2) instead of last-rule-wins."""
    from realtimedatawarehouse_self_spark.streaming.pipelines import (
        run_dim_routing,
    )

    config_path = str(tmp_path / "config_conflict")
    spark.createDataFrame(
        [
            ("view", "dim_shared", "user_id,value", "user_id", None),
            ("click", "dim_shared", "user_id,value", "event_id", None),
        ],
        "source_type string, sink_table string, sink_columns string,"
        " sink_pk string, sink_extend string",
    ).write.parquet(config_path)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stream_src)
    q = run_dim_routing(
        spark,
        stream,
        config_path,
        str(tmp_path / "dim_conflict"),
        str(tmp_path / "cp_conflict"),
    )
    try:
        assert q.awaitTermination(120), 'stream did not finish in 120s'
        raise AssertionError("expected the conflicting config to fail the batch")
    except Exception as exc:
        assert "conflicting routing rules" in str(exc)
    assert not os.path.exists(str(tmp_path / "dim_conflict" / "dim_shared"))


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """T6 production path: Spark's native dropDuplicatesWithinWatermark
    bounds dedup state to the watermark horizon (the reference's 5 s
    Dws09 TTL expressed as engine machinery instead of custom state).
    This is COVERAGE row T6's streaming implementation; the oracle-gated
    query streaming_dedup_within_watermark pins its re-emission cadence."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 10, "order", 5.0),
        (1, datetime(2024, 1, 1, 0, 0, 1), 10, "order", 5.0),  # dup (retract)
        (2, datetime(2024, 1, 1, 0, 0, 2), 11, "order", 7.0),
        (2, datetime(2024, 1, 1, 0, 0, 2), 11, "order", 7.0),  # exact dup
        (3, datetime(2024, 1, 1, 0, 5, 0), 12, "order", 9.0),
    ]
    src = str(tmp_path / "dd_src")
    _write_events_fixture(spark, src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    dd = stream.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out, cp = str(tmp_path / "dd_out"), str(tmp_path / "dd_cp")
    q = (
        dd.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    got = spark.read.parquet(out)
    ids = sorted(r.event_id for r in got.collect())
    assert ids == [1, 2, 3]  # one survivor per key
    # batch twin: dropDuplicates on the same key
    batch_ids = sorted(
        r.event_id
        for r in spark.read.parquet(src).dropDuplicates(["event_id"]).collect()
    )
    assert ids == batch_ids


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Re-writing one day must not truncate sibling days (static overwrite
    would); re-running the same backfill is idempotent."""
    from realtimedatawarehouse_self_spark.streaming.sinks import (
        write_partitioned_overwrite,
    )

    path = str(tmp_path / "lake")
    full = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"), ("2024-01-02", 3, "c")],
        "dt string, id long, v string",
    )
    write_partitioned_overwrite(full, path, ["dt"])
    assert spark.read.parquet(path).count() == 3

    # backfill day 1 with corrected data (one row instead of two)
    day1_fixed = spark.createDataFrame(
        [("2024-01-01", 1, "a2")], "dt string, id long, v string"
    )
    write_partitioned_overwrite(day1_fixed, path, ["dt"])
    # partition-column type inference reads dt back as DATE
    got = {(str(r.dt), r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1, "a2"), ("2024-01-02", 3, "c")}

    # idempotent: same backfill again -> same table
    write_partitioned_overwrite(day1_fixed, path, ["dt"])
    got2 = {(str(r.dt), r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_upsert_parquet_single_writer_lock(spark, tmp_path):
    """K3 single-writer contract (VERDICT r3 task #8): a live lease makes a
    second interleaved upsert fail fast with ConcurrentWriterError; a stale
    lease (presumed-dead holder) is reclaimed; crashes release via finally."""
    import json
    import os
    import time

    from realtimedatawarehouse_self_spark.streaming.sinks import (
        ConcurrentWriterError,
        upsert_parquet,
    )

    path = str(tmp_path / "dim_t")
    upsert_parquet(
        spark,
        spark.createDataFrame([("1", "a")], "id string, v string"),
        path,
        ["id"],
    )
    lock = path + ".__lock__"
    assert not os.path.exists(lock)  # released after a successful merge

    # Writer A holds a live lease -> writer B must refuse, table untouched.
    with open(lock, "w") as f:
        json.dump({"pid": 999999, "ts": time.time()}, f)
    try:
        upsert_parquet(
            spark,
            spark.createDataFrame([("2", "b")], "id string, v string"),
            path,
            ["id"],
        )
        raise AssertionError("expected ConcurrentWriterError")
    except ConcurrentWriterError:
        pass
    assert {r.id for r in spark.read.parquet(path).collect()} == {"1"}
    assert os.path.exists(lock)  # a refused writer never releases A's lock

    # A's lease expires (crashed holder): B reclaims and merges normally.
    os.utime(lock, (1, 1))
    upsert_parquet(
        spark,
        spark.createDataFrame([("2", "b")], "id string, v string"),
        path,
        ["id"],
    )
    assert not os.path.exists(lock)
    assert {r.id for r in spark.read.parquet(path).collect()} == {"1", "2"}

    # A failing merge still releases the lock (finally path).
    bad = spark.createDataFrame([("3", "c")], "id string, v string").withColumn(
        "v", F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("boom")))("v")
    )
    try:
        upsert_parquet(spark, bad, path, ["id"])
        raise AssertionError("expected write failure")
    except ConcurrentWriterError:
        raise
    except Exception:
        pass
    assert not os.path.exists(lock)


def test_batch_id_guard_skips_replayed_batches(spark, tmp_path):
    """foreachBatch replay safety: a non-idempotent merge wrapped in
    batch_id_guard must apply each batch id exactly once, in order, and
    skip any replay of an already-applied id."""
    from realtimedatawarehouse_self_spark.streaming.sinks import batch_id_guard

    applied = []
    marker = str(tmp_path / "last_batch")

    @batch_id_guard(marker)
    def merge(batch_df, batch_id):
        applied.append(batch_id)

    df = spark.range(1)
    merge(df, 0)
    merge(df, 0)  # replay of 0: skipped
    merge(df, 1)
    merge(df, 1)  # replay of 1: skipped
    merge(df, 0)  # stale replay below the mark: skipped
    merge(df, 2)
    assert applied == [0, 1, 2]


def test_batch_id_guard_mark_survives_failed_merge(spark, tmp_path):
    """A merge that RAISES must not advance the high-water mark — the
    retried batch must be applied on the retry, not skipped."""
    from realtimedatawarehouse_self_spark.streaming.sinks import batch_id_guard

    applied = []
    marker = str(tmp_path / "last_batch")
    fail_once = {"armed": True}

    @batch_id_guard(marker)
    def merge(batch_df, batch_id):
        if batch_id == 1 and fail_once["armed"]:
            fail_once["armed"] = False
            raise RuntimeError("transient sink failure")
        applied.append(batch_id)

    df = spark.range(1)
    merge(df, 0)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        merge(df, 1)
    merge(df, 1)  # retry after failure: must apply
    assert applied == [0, 1]


def test_upsert_meta_commits_atomically_with_swap(spark, tmp_path):
    """`meta=` rides the upsert's atomic swap: visible after the merge,
    carrying exactly the last committed writer's payload."""
    from realtimedatawarehouse_self_spark.streaming.sinks import (
        read_table_meta,
        upsert_parquet,
    )

    store = str(tmp_path / "t")
    assert read_table_meta(store) is None
    df1 = spark.createDataFrame([(1, 10)], "k int, v int")
    upsert_parquet(spark, df1, store, keys=["k"], meta={"batch_id": 0})
    assert read_table_meta(store) == {"batch_id": 0}
    df2 = spark.createDataFrame([(1, 20), (2, 5)], "k int, v int")
    upsert_parquet(spark, df2, store, keys=["k"], meta={"batch_id": 1})
    assert read_table_meta(store) == {"batch_id": 1}
    rows = {r["k"]: r["v"] for r in spark.read.parquet(store).collect()}
    assert rows == {1: 20, 2: 5}  # _meta.json invisible to the scan


def test_upsert_skips_replayed_batch_id(spark, tmp_path):
    """A foreachBatch replay — an upsert whose meta batch id is at or below
    the committed one — is a no-op inside the sink: rows and meta stay
    exactly as the first commit left them, even when the replay carries
    different rows."""
    from realtimedatawarehouse_self_spark.streaming.sinks import (
        read_table_meta,
        upsert_parquet,
    )

    store = str(tmp_path / "t")
    first = spark.createDataFrame([(1, 10), (2, 5)], "k int, v int")
    upsert_parquet(spark, first, store, keys=["k"], meta={"batch_id": 3})
    other = spark.createDataFrame([(1, 99), (3, 7)], "k int, v int")
    for replay_id in (3, 2):
        upsert_parquet(
            spark, other, store, keys=["k"], meta={"batch_id": replay_id}
        )
        rows = {r["k"]: r["v"] for r in spark.read.parquet(store).collect()}
        assert rows == {1: 10, 2: 5}
        assert read_table_meta(store) == {"batch_id": 3}


def test_login_back_flags_matches_dws04(spark):
    """T4's streaming processor, fed day-grouped micro-batches of the
    sf0.001 'view' events, must reproduce the batch query's per-day login
    UV and 7-day-back counts."""
    from collections import Counter

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        _MicroBatchStage,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        login_back_flags,
    )
    from tests.conftest import SF_SMOKE

    logins = (
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        )
    )
    days = sorted(r[0] for r in logins.select("dt").distinct().collect())
    assert len(days) > 7  # the back flag needs an 8-day gap to fire
    stage = _MicroBatchStage("rtdw-t4-")
    # three calendar days per micro-batch
    stage.stage_by(
        logins.withColumn("b", F.expr(f"datediff(dt, '{days[0]}') div 3")), "b"
    )
    flags = stage.run_to_parquet(
        spark,
        login_back_flags(stage.read_stream(spark, "uid string, dt string")),
    ).collect()
    uv, back = Counter(), Counter()
    for r in flags:
        uv[r["dt"]] += r["uv_flag"]
        back[r["dt"]] += r["back_flag"]
    want = {
        r["cur_date"]: (r["uu_ct"], r["back_ct"])
        for r in e.queries()["dws04_user_login_window"](spark, SF_SMOKE).collect()
    }
    assert {d: (uv[d], back[d]) for d in want} == want
    assert sum(back.values()) > 0  # the 7-day-back leg actually fired


def test_running_balance_stream_matches_batch_identity(spark, tmp_path):
    """The non-associative floor-at-zero balance: the streaming keyed-state
    processor (balance carried across micro-batches) must equal the batch
    reflection-identity windows over the full history — including when the
    clamp fires INSIDE an earlier batch."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType

    from realtimedatawarehouse_self_spark.streaming.stateful import (
        running_balance,
    )

    schema = StructType(
        [
            StructField("uid", StringType()),
            StructField("seq", LongType()),
            StructField("delta", LongType()),
        ]
    )
    src = str(tmp_path / "bsrc")
    cp = str(tmp_path / "bcp")
    out = str(tmp_path / "bout")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            running_balance(spark.readStream.schema(schema).parquet(src))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in 120s'

    b1 = [("u1", 1, 50), ("u1", 2, -80), ("u2", 1, -5)]
    b2 = [("u1", 3, 30), ("u2", 2, 10), ("u1", 4, -10)]
    run_batch(b1)
    run_batch(b2)

    got = {
        (r.uid, r.seq): r.balance
        for r in spark.read.parquet(out).collect()
    }
    # batch twin: reflection identity over the FULL history
    w = (
        Window.partitionBy("uid")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    full = spark.createDataFrame(b1 + b2, schema)
    want = {
        (r.uid, r.seq): r.balance
        for r in full.withColumn("s", F.sum("delta").over(w))
        .withColumn(
            "balance", F.col("s") - F.least(F.lit(0), F.min("s").over(w))
        )
        .collect()
    }
    assert got == want
    assert got[("u1", 2)] == 0  # clamp fired inside batch 1
    assert got[("u1", 3)] == 30  # carried state is the clamped value


def test_topk_hitters_sketch_state_bounded_and_candidate_complete(
    spark, tmp_path
):
    """The MG processor's two contracts, checked on a stream whose user
    domain EXCEEDS the counter capacity:
    - candidate completeness: every user with frequency >= n/cap survives
      the cross-batch fold into the flush (the guarantee the batch-side
      exact recount builds on);
    - bounded state: the flushed counter table is <= cap rows (state is
      O(cap) per key, never O(users))."""
    import pandas as pd

    from realtimedatawarehouse_self_spark.streaming.stateful import (
        topk_hitters,
    )

    cap = 10
    # 60 distinct light users (1 event each) + 2 heavy users (30 each):
    # heavies are >= 120/10 = 12 events, lights can never collide up to cap
    rows = []
    for u in range(60):
        rows.append(("click", u, 0))
    for u in (1000, 1001):
        rows.extend([("click", u, 0)] * 30)
    src = tmp_path / "src"
    src.mkdir()
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = _time.time()
    # three data files (forced micro-batch boundaries) + sentinel last
    chunks = [rows[0:40], rows[40:80], rows[80:]]
    for i, chunk in enumerate(chunks):
        p = src / f"g{i}"
        p.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_type": pa.array([r[0] for r in chunk]),
                    "user_id": pa.array(
                        [r[1] for r in chunk], pa.int64()
                    ),
                    "flush": pa.array([r[2] for r in chunk], pa.int32()),
                }
            ),
            str(p / "part.parquet"),
        )
        (p / "part.parquet").touch()
        import os as _os

        _os.utime(p / "part.parquet", (t0 + i * 10, t0 + i * 10))
    sent = src / "zz"
    sent.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_type": pa.array(["click"]),
                "user_id": pa.array([-1], pa.int64()),
                "flush": pa.array([1], pa.int32()),
            }
        ),
        str(sent / "part.parquet"),
    )
    import os as _os

    _os.utime(sent / "part.parquet", (t0 + 100, t0 + 100))

    out, cp = tmp_path / "out", tmp_path / "cp"
    q = (
        topk_hitters(
            spark.readStream.schema("event_type string, user_id bigint, flush int")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            cap=cap,
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(cp))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    flushed = spark.read.parquet(str(out)).toPandas()
    assert len(flushed) <= cap  # bounded state
    survivors = set(flushed["user_id"])
    assert {1000, 1001} <= survivors  # completeness for freq >= n/cap


def test_streaming_funnel_3way_chain_ordering(spark):
    """Every emitted funnel row must respect the chain: signup < view <=
    view+H and view < purchase <= purchase horizon — the two join bounds
    re-checked on the actual streaming output."""
    import datetime as dt
    import os

    import __spark_entry__ as e
    from tests.conftest import TESTDATA
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        FUNNEL_HORIZON_S,
    )

    sf = os.path.join(TESTDATA, "sf0.001")
    rows = e.queries()["streaming_funnel_3way"](spark, sf).collect()
    assert rows, "funnel must emit real matches (vacuous-join guard)"
    fmt = "%Y-%m-%d %H:%M:%S"
    for r in rows:
        s = dt.datetime.strptime(r["signup_ts"], fmt)
        v = dt.datetime.strptime(r["view_ts"], fmt)
        p = dt.datetime.strptime(r["purchase_ts"], fmt)
        assert s < v <= s + dt.timedelta(seconds=FUNNEL_HORIZON_S), r
        assert v < p <= v + dt.timedelta(seconds=FUNNEL_HORIZON_S), r
        assert r["user_id"] >= 0


def test_streaming_late_drop_twin_is_nonvacuous_subset(spark):
    """The straggler-shard replay must produce REAL drops (the r3
    vacuous-result guard) and the kept counts must be a per-group subset
    of the no-drop aggregation."""
    import os

    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from tests.conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    rows = e.queries()["streaming_late_drop_twin"](spark, sf).collect()
    assert rows
    kept = {(r["win_start"], r["event_type"]): r["ct"] for r in rows}
    full = {
        (r["ws"], r["event_type"]): r["ct"]
        for r in spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            F.date_format(
                F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss"
            ).alias("ws"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        .collect()
    }
    assert sum(kept.values()) < sum(full.values()), "twin must drop rows"
    for k, v in kept.items():
        assert v <= full[k], (k, v, full[k])


def test_ddw_twin_matches_python_replay(spark):
    """Full Python replay of the pinned dropDuplicatesWithinWatermark
    semantics: per user, emit the first appearance, then each first
    appearance whose 2-lagged batch prefix-max passed the previous emit's
    time + 2*delay — the twin's output must match chain-for-chain."""
    import os
    from collections import defaultdict

    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        DDW_DELAY_S,
    )
    from tests.conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    rows = e.queries()["streaming_dedup_within_watermark"](spark, sf).collect()
    got = sorted((r["user_id"], r["emit_ts"]) for r in rows)

    daily = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"), "user_id")
        .agg(F.min("ts").alias("ts"))
        .collect()
    )
    days = sorted({r["d"] for r in daily})
    pos = {d: i for i, d in enumerate(days)}
    per_batch_max = {}
    per_user = defaultdict(list)
    for r in daily:
        p = pos[r["d"]]
        per_batch_max[p] = max(per_batch_max.get(p, r["ts"]), r["ts"])
        per_user[r["user_id"]].append((p, r["ts"]))
    lag2 = {}
    running = None
    for p in sorted(per_batch_max):
        idx = sorted(per_batch_max).index(p)
        prior = [per_batch_max[q] for q in sorted(per_batch_max)[: max(0, idx - 1)]]
        lag2[p] = max(prior) if prior else None
    import datetime as dt

    expect = []
    for u, apps in per_user.items():
        apps.sort()
        emit = None
        for p, ts in apps:
            if emit is None or (
                lag2[p] is not None
                and lag2[p] >= emit + dt.timedelta(seconds=2 * DDW_DELAY_S)
            ):
                emit = ts
                expect.append((u, ts.strftime("%Y-%m-%d %H:%M:%S")))
    assert got == sorted(expect)
    assert len(got) > len(per_user), "re-emissions must actually occur"


def test_config_swap_twin_versions_flip_at_split(spark):
    """Days processed before the rule swap must route per v1 (no t_click,
    purchase -> t_trade); days after per v2 (t_click live, purchase ->
    t_trade_v2) — the per-batch config consult made visible."""
    import os

    import __spark_entry__ as e
    from tests.conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    rows = e.queries()["streaming_config_swap_twin"](spark, sf).collect()
    assert rows
    days = sorted({r["day"] for r in rows})
    all_days = sorted(
        r["d"]
        for r in spark.read.parquet(os.path.join(sf, "events.parquet"))
        .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS d")
        .distinct()
        .collect()
    )
    split_day = all_days[len(all_days) // 2]
    for r in rows:
        if r["day"] < split_day:
            assert r["route"] in ("t_view", "t_trade"), r
            if r["event_type"] == "purchase":
                assert r["route"] == "t_trade"
        else:
            assert r["route"] in ("t_view", "t_trade_v2", "t_click"), r
            if r["event_type"] == "purchase":
                assert r["route"] == "t_trade_v2"
    assert any(r["route"] == "t_click" for r in rows), "v2 rule must fire"
    assert any(r["route"] == "t_trade" for r in rows), "v1 rule must fire"
