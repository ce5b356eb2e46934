"""Oracle-gated queries that execute REAL Structured Streaming jobs.

Every twin runs through ``_MicroBatchStage``: it computes each input row's
slice as a column and stages all slices with ONE partitioned write
(``stage_by``), one parquet file per slice with mtimes in slice order. It
then runs ONE ``availableNow`` query over them with
``maxFilesPerTrigger=1`` (each slice is one micro-batch; only the
config-swap twin resumes its query once, on purpose), and returns the
sink's contents. The driver's DuckDB comparison
therefore validates an actual streaming execution — watermark, window and
join state, keyed custom state — not just a batch twin.

Event-time twins (windows, sessions, stream-stream joins) stage all events
as ONE data slice followed by a far-future flush slice: the flush row
advances the watermark past every real window / join horizon, so append
mode emits every result (see tests/test_streaming.py), and it is filtered
from the result.

Determinism notes:
- all real data arrives in micro-batch 0, when the watermark is still
  unset, so nothing is late-dropped; the flush batch that follows moves
  the watermark past every real window;
- the UV dedup keys include the day-truncated event time and the downstream
  aggregation groups by that same column, so *which* row of a dedup group
  survives cannot affect the result (arbitrary-survivor dedup made
  deterministic by construction).

Scale notes: this is the Dws* topology at cluster scale — per-key day-scoped
dedup state + watermark-evicted window state, both bounded; the flush
mechanism is test-harness-only (production streams advance watermarks
naturally).
"""

from __future__ import annotations

import atexit
import contextlib
import datetime as dt
import os
import shutil
import tempfile
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from realtimedatawarehouse_self_spark.functions.exprs import (
    cents_amount,
    money_cents,
    window_bounds,
)
from realtimedatawarehouse_self_spark.session import apply_runtime_confs
from realtimedatawarehouse_self_spark.sources.tables import load_table
from realtimedatawarehouse_self_spark.streaming.pipelines import (
    dws_pv_window_stream,
)

FLUSH_TYPE = "__flush__"
STREAM_TIMEOUT_S = 300


def _await_or_raise(q, timeout_s: int = STREAM_TIMEOUT_S) -> None:
    """awaitTermination with the return value CHECKED (ADVICE r5): a False
    return means the availableNow query is still running — proceeding
    would read a partially-written sink and silently return a truncated
    result. Stop the straggler and fail loudly instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming twin did not finish within {timeout_s}s; "
            f"refusing to read a partially-written sink"
        )


@contextlib.contextmanager
def _twin_confs(spark: SparkSession):
    """Per-twin session confs: apply the engine's runtime confs, then pin
    ONE shuffle partition for the tiny per-micro-batch frames, restoring
    the caller's setting afterwards. Every stateful operator keeps one
    state store per shuffle partition and writes a delta file for each on
    every batch; one partition instead of 8 cut a 6-batch twin from 10.9 s
    to 6.6 s and a 31-batch twin from 24.0 s to 18.3 s (4-vCPU host,
    sf0.001), with identical rows."""
    apply_runtime_confs(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


class _MicroBatchStage:
    """The one micro-batch harness of the streaming twins: stage input
    slices, run ONE availableNow query over them, read the result.

    FileStreamSource orders files by MODIFICATION TIME; the slice at
    sequence slot ``v`` is stamped at ``t0 + 10 * v``, so with
    ``maxFilesPerTrigger=1`` the staged slices are the micro-batches in
    slot order — the property every twin's oracle derives its
    batch-sequence arithmetic from. Sentinel slices (``stage_sentinel``)
    are stamped strictly after ALL staged slots. The sentinel-TYPING
    contract (real event types, sentinel keys — Catalyst pushes type
    predicates below EventTimeWatermark, SURVEY §9.1) stays the caller's
    job; this class only guarantees the ordering half of the flush
    contract.

    Every stage's directory sits under one per-process root, removed when
    the process exits: a returned frame reads its sink lazily, so no
    earlier point is safe, and no frame outlives the process.
    """

    _root: str | None = None

    def __init__(self, prefix: str):
        if _MicroBatchStage._root is None:
            _MicroBatchStage._root = tempfile.mkdtemp(prefix="rtdw-")
            atexit.register(shutil.rmtree, _MicroBatchStage._root, True)
        self.base = tempfile.mkdtemp(prefix=prefix, dir=_MicroBatchStage._root)
        self.src = os.path.join(self.base, "src")
        self.out = os.path.join(self.base, "out")
        self.cp = os.path.join(self.base, "cp")
        os.makedirs(self.src)
        self._t0 = _time.time()
        self._next_seq = 0

    def stage_by(
        self, df: DataFrame, slice_col: str, slots: int | None = None
    ) -> StructType:
        """Stage ``df`` with ONE partitioned write: the rows whose integer
        ``slice_col`` is ``v`` become the single-file slice at slot ``v``
        (``slice_col`` itself is not staged; null slices are dropped).
        Without ``slots`` only the values present become slices, so the
        micro-batches are the non-empty slices in value order; ``slots=n``
        also stages an empty slice for every missing value below ``n``, so
        slice ``v < n`` is micro-batch ``v``. Returns the staged schema."""
        parts = os.path.join(self.base, "parts")
        (
            df.filter(F.col(slice_col).isNotNull())
            .repartition(1)
            .write.partitionBy(slice_col)
            .parquet(parts)
        )
        staged = {
            int(d.split("=", 1)[1]): os.path.join(parts, d)
            for d in os.listdir(parts)
            if d.startswith(f"{slice_col}=")
        }
        missing = set(range(slots or 0)) - staged.keys()
        if missing:
            empty = os.path.join(parts, "empty")
            df.drop(slice_col).limit(0).coalesce(1).write.parquet(empty)
            for v in missing:
                staged[v] = shutil.copytree(empty, f"{empty}{v}")
        for v, part in staged.items():
            dst = os.path.join(self.src, f"g{v:05d}")
            os.rename(part, dst)
            self._stamp(dst, v)
        shutil.rmtree(parts)
        return df.drop(slice_col).schema

    def stage_sentinel(self, df: DataFrame) -> None:
        """Write a flush slice, stamped strictly after every slice staged
        so far (call again for a second flush batch); a no-op while
        nothing is staged, as there is nothing to flush."""
        if not self._next_seq:
            return
        seq = self._next_seq
        part = os.path.join(self.src, f"zz_flush{seq:05d}")
        df.coalesce(1).write.parquet(part)
        self._stamp(part, seq)

    def _stamp(self, part: str, seq: int) -> None:
        ts = self._t0 + seq * 10
        for fname in os.listdir(part):
            os.utime(os.path.join(part, fname), (ts, ts))
        self._next_seq = max(self._next_seq, seq + 1)

    def read_stream(self, spark: SparkSession, schema) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.src, "*"))
        )

    def _run(self, stream_df: DataFrame, output_mode: str, sink) -> bool:
        """Run ``stream_df`` to ``sink`` (a DataStreamWriter -> writer
        function) under ONE availableNow query; False (and no query) when
        nothing was staged."""
        if not self._next_seq:
            return False
        writer = (
            stream_df.writeStream.outputMode(output_mode)
            .option("checkpointLocation", self.cp)
            .trigger(availableNow=True)
        )
        _await_or_raise(sink(writer).start())
        return True

    def run_to_parquet(self, spark: SparkSession, stream_df: DataFrame) -> DataFrame:
        """Run the transformed stream to the parquet sink (append mode)
        and return the sink's contents — an empty frame of the stream's
        schema when nothing was staged or nothing was written."""
        ran = self._run(
            stream_df,
            "append",
            lambda w: w.format("parquet").option("path", self.out),
        )
        if ran and _has_parquet(self.out):
            return spark.read.parquet(self.out)
        return spark.createDataFrame([], stream_df.schema)

    def run_foreach_batch(
        self, stream_df: DataFrame, fn, output_mode: str = "append"
    ) -> None:
        """Run the stream with ``fn(batch_df, batch_id)`` as the sink; a
        no-op when nothing was staged."""
        self._run(stream_df, output_mode, lambda w: w.foreachBatch(fn))


def _day_offset(day: str, days_per_slice: int = 1):
    """Days since the frame's first ``day`` (a date or yyyy-MM-dd column),
    div ``days_per_slice``."""
    return F.expr(f"datediff({day}, min({day}) OVER ()) div {days_per_slice}")


def _range_band(col: str, n: int):
    """Which of ``n`` equal-width ascending ranges of ``col`` a row falls
    in: band ``b`` holds strictly smaller values than band ``b + 1`` (the
    arrival order the keyed-state twins rely on)."""
    lo = f"min({col}) OVER ()"
    return F.expr(f"({col} - {lo}) div ((max({col}) OVER () - {lo}) div {n} + 1)")


def _events_stream(
    spark: SparkSession, sf_dir: str, build, flush_filter=None,
    flush_types=(FLUSH_TYPE,),
) -> DataFrame:
    """events -> ONE data slice + one flush slice -> one availableNow query
    over `build(stream)` -> parquet sink -> DataFrame.

    Window emission and join-state eviction (which is what emits outer
    joins' null-extended rows) both use the watermark as of batch START, so
    the flush batch itself only moves the watermark; the no-data batch the
    same query runs right after it emits every remaining window and
    null-extended row.

    ``flush_filter``: predicate removing the flush rows from the sink output
    (default: ``event_type != FLUSH_TYPE``; pipelines that drop the
    event_type column filter on the sentinel user_id instead).

    ``flush_types``: event_type value(s) stamped on each flush row.
    Pipelines that filter the stream by event_type BEFORE joining need
    the sentinel to wear the REAL types (with the sentinel user_id
    carrying the flush identity): Catalyst pushes deterministic filters
    below the EventTimeWatermark operator, so a sentinel with a synthetic
    type is filtered out before the watermark node ever sees it and the
    watermark silently never advances (measured: stuck at
    last-real-row - delay; found by streaming_abandoned_views' missing
    final-horizon rows)."""
    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-stream-")
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        # one data slice: the watermark is unset, so nothing is late-dropped
        # (no events: nothing is staged, the sentinel is skipped, and
        # run_to_parquet returns the typed empty frame without a query)
        stage.stage_by(events.withColumn("slice", F.lit(0)), "slice")
        # only NULL timestamps: any sentinel time works — there are no real
        # windows for the flush to close
        max_ts = events.agg(F.max("ts")).first()[0] or dt.datetime(1970, 1, 1)
        stage.stage_sentinel(
            spark.createDataFrame(
                [
                    (-1 - i, max_ts + dt.timedelta(days=3), -1, ft, 0.0)
                    for i, ft in enumerate(flush_types)
                ],
                events.schema,
            )
        )
        sunk = stage.run_to_parquet(
            spark, build(stage.read_stream(spark, events.schema))
        )
        if flush_filter is None:
            flush_filter = F.col("event_type") != FLUSH_TYPE
        return sunk.filter(flush_filter)


# ---------------------------------------------------------------------------
# Streaming PV: stateless rows -> watermarked hourly tumbling window (the
# Dws02 pv/dur leg executed as a streaming job; A1/A8/W1/W3).
# ---------------------------------------------------------------------------
def streaming_pv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_stream(spark, sf_dir, dws_pv_window_stream)


_PV_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(count(*) AS BIGINT) AS pv_ct,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
           AS dur_sum
FROM events
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Streaming UV: chained stateful operators — day-scoped dropDuplicates (T2)
# feeding a daily windowed count (A1). uv = distinct users per (day, type).
# ---------------------------------------------------------------------------
def streaming_uv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(stream: DataFrame) -> DataFrame:
        d = stream.withColumn(
            "day_ts", F.date_trunc("day", F.col("ts"))
        ).withWatermark("day_ts", "2 seconds")
        deduped = d.dropDuplicates(["user_id", "event_type", "day_ts"])
        return (
            deduped.groupBy(F.window("day_ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("uv_ct"))
            .select(*window_bounds("w"), "event_type", "uv_ct")
        )

    return _events_stream(spark, sf_dir, build)


_UV_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day',
                '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uv_ct
FROM events
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Streaming session windows: native F.session_window executed as a REAL
# streaming job (merging session state, watermark-closed, append mode) —
# the streaming counterpart of extras.session_window_native, gated by the
# same gap-based lag+cumsum oracle. The flush row forms its own session for
# the sentinel user, never merges with real state, and is filtered out.
# ---------------------------------------------------------------------------
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.extras import SESSION_GAP, TS_FMT

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withColumn("v", money_cents("value"))
            .withWatermark("ts", "2 seconds")
            .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                cents_amount(F.sum("v")).alias("total_value"),
            )
            .select(
                "user_id",
                F.date_format("w.start", TS_FMT).alias("session_start"),
                F.date_format("w.end", TS_FMT).alias("session_end"),
                "n_events",
                "total_value",
            )
        )

    return _events_stream(
        spark, sf_dir, build, flush_filter=F.col("user_id") >= 0
    )


def _session_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.extras import _SESSION_NATIVE_SQL

    return _SESSION_NATIVE_SQL


# ---------------------------------------------------------------------------
# Streaming stream-stream inner join (J1), executed as a REAL streaming job
# and gated by the DuckDB oracle: 'view' events join 'purchase' events by
# user when the purchase lands within JOIN_HORIZON after the view — the
# reference's DwdTradeOrderDetail join shape (citation in
# streaming/pipelines.py::order_detail_join_stream) over the driver's
# events table. 'purchase' is a real event type in the testdata (the
# pre-r4 version joined to a nonexistent 'cart' type, so both sides agreed
# on zero rows and the row proved nothing; 40 matches at sf0.01 now
# exercise real match/state semantics). Both sides are watermarked and the
# join carries an explicit event-time bound, so state is evicted at the
# horizon instead of growing unboundedly (the contract the reference left
# to state-retention config). The flush row's sentinel user never matches
# either filter.
# ---------------------------------------------------------------------------
JOIN_HORIZON_S = 3600


def streaming_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(stream: DataFrame) -> DataFrame:
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 seconds")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
                money_cents("value").alias("p_cents"),
            )
            .withWatermark("p_ts", "2 seconds")
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (
                F.col("p_ts")
                < F.col("v_ts") + F.expr(f"interval {JOIN_HORIZON_S} seconds")
            ),
        )
        return joined.select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            cents_amount(F.col("p_cents")).alias("purchase_value"),
        )

    return _events_stream(
        spark, sf_dir, build, flush_filter=F.col("user_id") >= 0
    )


_JOIN_STREAM_SQL = f"""
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CAST(CAST(floor(p.value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0
           AS purchase_value
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts < v.ts + INTERVAL {JOIN_HORIZON_S} SECONDS
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# Streaming ABANDONMENT detection (J2 as a driver row): the left-outer
# twin of `streaming_join_view_purchase` — views with NO purchase inside
# the horizon surface as null-extended rows exactly ONCE, after the
# watermark passes view_ts + horizon (reference left-join leakage
# contract: DwdTradeOrderDetail's dwd_order_pre_process left joins,
# R/app/dwd/db/DwdTradeOrderPreProcess semantics; here the null side IS
# the answer). This is the streaming twin of the batch
# `abandoned_view_rate` anti-join at detail grain.
#
# Flush contract: the sentinel rows must wear the REAL event types
# ('view'/'purchase', sentinel user_id < 0) — NOT the synthetic
# FLUSH_TYPE. Writing the watermark before the filter does not help:
# Catalyst pushes the deterministic event_type filter below the
# EventTimeWatermark node, so a synthetic-typed sentinel is gone before
# the watermark operator sees it and the watermark silently freezes at
# last-real-row − delay (see _events_stream's flush_types docstring; this
# twin is where that was measured). The typed sentinels match nothing:
# flush view/purchase share one timestamp, and p_ts > v_ts is strict.
# ---------------------------------------------------------------------------
def streaming_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(stream: DataFrame) -> DataFrame:
        views = (
            stream.select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
                "event_type",
            )
            .withWatermark("v_ts", "2 seconds")
            .filter(F.col("event_type") == "view")
            .drop("event_type")
        )
        purchases = (
            stream.select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                "event_type",
            )
            .withWatermark("p_ts", "2 seconds")
            .filter(F.col("event_type") == "purchase")
            .drop("event_type")
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (
                F.col("p_ts")
                <= F.col("v_ts") + F.expr(f"interval {JOIN_HORIZON_S} seconds")
            ),
            "leftOuter",
        )
        return joined.filter(F.col("p_ts").isNull()).select(
            F.col("v_user").alias("user_id"),
            "view_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        )

    return _events_stream(
        spark, sf_dir, build, flush_filter=F.col("user_id") >= 0,
        flush_types=("view", "purchase"),
    )


_ABANDON_STREAM_SQL = f"""
SELECT v.user_id,
       v.event_id AS view_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM events v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = v.user_id
        AND p.ts > v.ts
        AND p.ts <= v.ts + INTERVAL {JOIN_HORIZON_S} SECONDS
  )
"""


# ---------------------------------------------------------------------------
# Streaming incremental rollup: the MATERIALIZED-VIEW MAINTENANCE loop run
# as a real streaming job. Events arrive across MULTIPLE micro-batches
# (maxFilesPerTrigger=1 over a multi-file source under availableNow); each
# batch's hourly partial aggregate is merged additively into a keyed
# parquet store through the crash-safe single-writer upsert sink
# (K3/K4/K5 + the foreachBatch pattern, reference
# DIM_SinkFunction.java:28-92). The oracle is the DIRECT batch rollup over
# all events — so the gate proves that per-batch delta merges compose to
# the full answer regardless of how the data was batched (counts + integer
# cents are exactly associative). This is `incremental_hourly_rollup`'s
# contract upgraded from a two-way batch split to a real streaming
# execution with per-batch sink commits.
# ---------------------------------------------------------------------------
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import TS_FMT
    from realtimedatawarehouse_self_spark.streaming.sinks import upsert_parquet

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-incr-")
        store = os.path.join(stage.base, "store")
        events = load_table(spark, sf_dir, "events").select(
            "ts",
            "event_type",
            "value",
            F.pmod(F.hash("ts", "event_type"), F.lit(4)).alias("slice"),
        )
        # 4 slices -> 4 micro-batches -> 4 delta merges into the store (an
        # empty slice still merges, so the store exists on empty input)
        schema = stage.stage_by(events, "slice", slots=4)

        # Additive merges are not idempotent under foreachBatch replay.
        # The batch-id high-water mark is committed INSIDE the upsert's
        # atomic swap (`meta=`), and the upsert skips a batch at or below
        # it under its table lock — a replayed batch is skipped iff its
        # merge actually committed. (For sinks without transactional meta,
        # `sinks.batch_id_guard` is the standalone recipe, with a
        # documented one-replay window.)
        def merge(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            part = batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("h"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("event_ct"),
                F.sum(money_cents("value")).alias("v_c"),
            )
            if os.path.exists(store):
                cur = sess.read.parquet(store).select(
                    "h",
                    "event_type",
                    F.col("event_ct").alias("c0"),
                    F.col("v_c").alias("v0"),
                )
                part = part.join(cur, ["h", "event_type"], "left").select(
                    "h",
                    "event_type",
                    (F.col("event_ct") + F.coalesce("c0", F.lit(0))).alias(
                        "event_ct"
                    ),
                    (F.col("v_c") + F.coalesce("v0", F.lit(0))).alias("v_c"),
                )
            upsert_parquet(
                sess,
                part,
                store,
                keys=["h", "event_type"],
                meta={"batch_id": batch_id},
            )

        stage.run_foreach_batch(stage.read_stream(spark, schema), merge)
        return spark.read.parquet(store).select(
            F.date_format("h", TS_FMT).alias("hour_ts"),
            "event_type",
            F.col("event_ct").cast("bigint").alias("event_ct"),
            cents_amount("v_c").alias("total_value"),
        )


def _incr_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.timeseries import (
        _INCREMENTAL_SQL,
    )

    return _INCREMENTAL_SQL


# ---------------------------------------------------------------------------
# Streaming EWMA over daily counts: the keyed-CUSTOM-state driver row
# (T-family `applyInPandasWithState` executed as a real multi-micro-batch
# streaming job, not just pytest-asserted). Source slices hold 7 calendar
# days each with strictly increasing mtimes, so `maxFilesPerTrigger=1` under
# availableNow delivers the stream in day order — the sequential-state
# contract an EWMA needs — and the per-key smoothed level carries across
# micro-batches in the state store. The recurrence is the batch operator's
# exact integer arithmetic, so the oracle is ewma_anomaly_daily's
# recursive CTE verbatim: the driver row proves the STREAMING execution
# (state carry, batch boundaries, Arrow round-trip) produces the
# bit-identical answer.
# ---------------------------------------------------------------------------
EWMA_DAYS_PER_BATCH = 7


def streaming_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.streaming.stateful import ewma_daily

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-ewma-")
        # Same non-NULL contract as the batch twin (the shared oracle
        # filters identically)
        events = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
            .select(
                "event_type",
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
            )
        )
        schema = stage.stage_by(
            events.withColumn("slice", _day_offset("day", EWMA_DAYS_PER_BATCH)),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark, ewma_daily(stage.read_stream(spark, schema))
        )
        return sunk.select(
            "event_type",
            "day",
            "ct",
            F.col("ewma").alias("ewma_micro"),
            F.expr(
                "CASE WHEN prev = 0 THEN cast(0 as bigint) "
                "ELSE ct * 1000000 - prev END"
            ).alias("deviation_micro"),
            F.expr(
                "cast(CASE WHEN prev > 0 AND abs(ct * 1000000 - prev) * 2 "
                "> prev THEN 1 ELSE 0 END as bigint)"
            ).alias("is_anomaly"),
        )


def _ewma_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.timeseries import _EWMA_SQL

    return _EWMA_SQL


# ---------------------------------------------------------------------------
# Streaming CUSUM over daily counts — the second keyed-CUSTOM-state driver
# row: the change_point_cusum recurrence executed as a real multi-micro-
# batch `applyInPandasWithState` job. The batch operator is the Lindley
# REFLECTION (two stacked windows); the streaming state form is the direct
# max(0, prev + delta) fold — the driver row therefore proves the
# reflection identity holds bit-for-bit across the streaming execution,
# with the (c_up, c_dn) pair carrying across micro-batches in the state
# store. Baseline mean rides in statically (stream-static join at staging
# time), exactly how a production CUSUM takes its reference-period
# baseline. Same 7-day-slice / mtime-ordered harness as
# streaming_ewma_daily.
# ---------------------------------------------------------------------------
def streaming_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.streaming.stateful import cusum_daily

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-cusum-")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
            .select(
                "event_type",
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
            )
        )
        # Reference-period baseline, computed ONCE batch-side and joined
        # statically (mirrors the batch operator's stats CTE exactly).
        daily = ev.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).cast("bigint").alias("ct")
        )
        stats = daily.groupBy("event_type").agg(
            F.expr("CAST(sum(ct) * 1000000 div count(*) AS BIGINT)").alias(
                "mean_micro"
            )
        )
        schema = stage.stage_by(
            ev.join(F.broadcast(stats), "event_type").withColumn(
                "slice", _day_offset("day", EWMA_DAYS_PER_BATCH)
            ),
            "slice",
        )
        return stage.run_to_parquet(
            spark, cusum_daily(stage.read_stream(spark, schema))
        ).select(
            "event_type",
            "day",
            "ct",
            "cusum_up_micro",
            "cusum_dn_micro",
            "alarm",
        )


def _cusum_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.timeseries import _CUSUM_SQL

    return _CUSUM_SQL


# ---------------------------------------------------------------------------
# Streaming stream-stream FULL-outer join — the one join mode the twin
# family lacked (J1 inner, J2 left; the reference has no two-sided
# variant at all). One pass emits the complete attribution
# reconciliation: matched (view, purchase-within-horizon) pairs, views
# nobody converted ('view_only' — the J2 answer), AND purchases with no
# preceding view ('purchase_only' — the direct-traffic leg a left join
# silently drops). Both null-extension directions ride state EVICTION:
# a side's unmatched row surfaces only when the OTHER side's watermark
# passes its horizon, so this twin exercises two-sided eviction timing —
# hence REAL-typed sentinels (Catalyst pushes the type filter below the
# EventTimeWatermark node; see _events_stream's flush_types docstring).
# Sentinels share one timestamp and p_ts > v_ts is strict, so they match
# nothing and exit as user -1 null-extended rows, dropped by the filter.
# ---------------------------------------------------------------------------
def streaming_reconcile_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def build(stream: DataFrame) -> DataFrame:
        views = (
            stream.select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
                "event_type",
            )
            .withWatermark("v_ts", "2 seconds")
            .filter(F.col("event_type") == "view")
            .drop("event_type")
        )
        purchases = (
            stream.select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
                "event_type",
            )
            .withWatermark("p_ts", "2 seconds")
            .filter(F.col("event_type") == "purchase")
            .drop("event_type")
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (
                F.col("p_ts")
                <= F.col("v_ts") + F.expr(f"interval {JOIN_HORIZON_S} seconds")
            ),
            "fullOuter",
        )
        return joined.select(
            F.coalesce("v_user", "p_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.when(F.col("view_id").isNull(), F.lit("purchase_only"))
            .when(F.col("purchase_id").isNull(), F.lit("view_only"))
            .otherwise(F.lit("matched"))
            .alias("match_kind"),
        )

    return _events_stream(
        spark, sf_dir, build, flush_filter=F.col("user_id") >= 0,
        flush_types=("view", "purchase"),
    )


_FULL_OUTER_STREAM_SQL = f"""
WITH v AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(v.user_id, p.user_id) AS user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CASE WHEN v.event_id IS NULL THEN 'purchase_only'
            WHEN p.event_id IS NULL THEN 'view_only'
            ELSE 'matched' END AS match_kind
FROM v FULL JOIN p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL {JOIN_HORIZON_S} SECONDS
"""


# ---------------------------------------------------------------------------
# Streaming per-type heavy hitters — the keyed-SKETCH-state driver row: a
# Misra-Gries counter table (O(cap) per key, never O(users)) carried across
# micro-batches in the state store, flushed by a typed sentinel, then
# EXACT-verified batch-side (the two-pass production pattern: the sketch
# bounds state; the recount makes the answer independent of batch
# boundaries and sketch decrements). The oracle is the exact per-type
# heavy-hitter SQL — so the driver row proves the sketch's candidate
# guarantee (no heavy user lost across state carry) end to end.
# ---------------------------------------------------------------------------
HH_TYPE_DEN = 125  # heavy = >= 1/125 of the TYPE's events (mining.HH_DEN twin)


def streaming_topk_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        topk_hitters,
    )

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-topk-")
        events = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
            .select(
                "event_type",
                "user_id",
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
            )
        )
        # rows without a day have no slice and are not streamed
        stage.stage_by(
            events.select(
                "event_type",
                "user_id",
                F.lit(0).cast("int").alias("flush"),
                _day_offset("day", EWMA_DAYS_PER_BATCH).alias("slice"),
            ),
            "slice",
        )
        # typed sentinel: one flush row per key, stamped strictly last
        # so every key's counters flush only after all data batches
        # folded in
        stage.stage_sentinel(
            events.select("event_type")
            .distinct()
            .select(
                "event_type",
                F.lit(-1).cast("bigint").alias("user_id"),
                F.lit(1).cast("int").alias("flush"),
            )
        )
        schema = "event_type string, user_id bigint, flush int"
        sunk = stage.run_to_parquet(
            spark,
            topk_hitters(stage.read_stream(spark, schema), cap=HH_TYPE_DEN),
        )
        candidates = sunk.select("event_type", "user_id").distinct()
        # exact recount over candidates only (two-pass confirm):
        # per-type totals broadcast, threshold filter — output
        # independent of the sketch's decrements and of how days were
        # grouped into batches
        per_type = events.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_type")
        )
        exact = (
            events.join(candidates, ["event_type", "user_id"], "left_semi")
            .groupBy("event_type", "user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("event_ct"))
            .join(F.broadcast(per_type), "event_type")
            .filter(F.col("event_ct") * HH_TYPE_DEN >= F.col("n_type"))
        )
        return exact.select(
            "event_type",
            "user_id",
            "event_ct",
            F.expr("event_ct * 1000000 div n_type").alias("share_micro"),
        )


_TOPK_STREAM_SQL = f"""
WITH ev AS (
    SELECT event_type, user_id FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
tot AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
    FROM ev GROUP BY 1
),
cnt AS (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS event_ct
    FROM ev GROUP BY 1, 2
)
SELECT c.event_type, c.user_id, c.event_ct,
       c.event_ct * 1000000 // t.n_type AS share_micro
FROM cnt c JOIN tot t USING (event_type)
WHERE c.event_ct * {HH_TYPE_DEN} >= t.n_type
"""


# ---------------------------------------------------------------------------
# Ingest-time near-dup screening as a REAL stream — the streaming twin of
# `state_ops.dedup_incoming_batch` (same oracle SQL): raw incoming
# documents arrive in micro-batches; each foreachBatch shingles + minhashes
# ONLY its batch, probes the pre-built static corpus band index
# (stream-static join — the production pattern for screening an ingest
# stream against a large indexed corpus), exact-verifies candidates via
# shingle intersection, and appends the screening decisions to the sink.
#
# Scale notes: per-batch work is linear in BATCH size (the batch bands
# probe the corpus index; the corpus never self-joins), and corpus-side
# state is the band index — exactly what a 100 TB ingest pipeline keeps
# hot. Each incoming doc arrives in exactly one micro-batch, so the
# union of per-batch outputs is the batch answer with no cross-batch
# reconciliation needed.
# ---------------------------------------------------------------------------
DEDUP_STREAM_GROUPS = 3


def streaming_dedup_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import (
        tokens,
        word_shingles,
    )
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        _minhash_aggs,
        _shingle_hash,
        signature_bands,
    )
    from realtimedatawarehouse_self_spark.plans.state_ops import INCOMING_MOD

    corpus = None
    corpus_bands = None
    with _twin_confs(spark):
        try:
            stage = _MicroBatchStage("rtdw-sdedup-")
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "lang"
            )

            def per_doc_stats(d: DataFrame) -> DataFrame:
                sh = (
                    d.withColumn("tok_arr", tokens("text"))
                    .select(
                        "doc_id",
                        "lang",
                        F.explode(word_shingles(F.col("tok_arr"))).alias("sh"),
                    )
                    .distinct()
                )
                return (
                    sh.select("doc_id", "lang", "sh", _shingle_hash())
                    .groupBy("doc_id")
                    .agg(
                        F.first("lang").alias("lang"),
                        F.count(F.lit(1)).alias("n_sh"),
                        F.collect_list("sh").alias("sh_arr"),
                        *_minhash_aggs(),
                    )
                )

            # The static side, built once and kept hot across micro-batches:
            # the band index (probe target) and the shingle arrays (verify).
            corpus = per_doc_stats(
                docs.filter(F.col("doc_id") % INCOMING_MOD != 0)
            ).persist()
            corpus_bands = signature_bands(corpus).persist()
            corpus_bands.count()  # materialize before the stream starts
            corpus_side = corpus.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("lang").alias("lang_b"),
                F.col("n_sh").alias("n_b"),
                F.col("sh_arr").alias("arr_b"),
            )

            # Incoming raw docs land as one file per micro-batch, mtime-ordered
            # (maxFilesPerTrigger=1 under availableNow — the slice feeder
            # idiom shared by the rollup/ewma twins).
            stage.stage_by(
                docs.filter(F.col("doc_id") % INCOMING_MOD == 0).withColumn(
                    "slice",
                    F.expr(f"doc_id div {INCOMING_MOD} % {DEDUP_STREAM_GROUPS}"),
                ),
                "slice",
                slots=DEDUP_STREAM_GROUPS,
            )

            def process(batch_df: DataFrame, batch_id: int) -> None:
                b = per_doc_stats(batch_df)
                bb = signature_bands(b)
                cand = (
                    bb.alias("a")
                    .join(
                        corpus_bands.alias("b"),
                        (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.sig") == F.col("b.sig")),
                    )
                    .select(
                        F.col("a.doc_id").alias("new_doc"),
                        F.col("b.doc_id").alias("corpus_doc"),
                    )
                    .distinct()
                )
                res = (
                    cand.join(
                        b.select(
                            F.col("doc_id").alias("new_doc"),
                            F.col("lang").alias("lang_a"),
                            F.col("n_sh").alias("n_a"),
                            F.col("sh_arr").alias("arr_a"),
                        ),
                        "new_doc",
                    )
                    .join(corpus_side, "corpus_doc")
                    .filter(F.col("lang_a") == F.col("lang_b"))
                    .withColumn(
                        "inter_ct",
                        F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint"),
                    )
                    .withColumn(
                        "union_ct", F.col("n_a") + F.col("n_b") - F.col("inter_ct")
                    )
                    .select(
                        "new_doc",
                        "corpus_doc",
                        "inter_ct",
                        F.col("union_ct").cast("bigint").alias("union_ct"),
                        (2 * F.col("inter_ct") >= F.col("union_ct")).alias(
                            "is_dup"
                        ),
                    )
                )
                res.write.mode("append").parquet(stage.out)

            # every slice is staged (empty ones too), so every batch runs
            # `process` and the sink holds at least one typed file
            stage.run_foreach_batch(
                stage.read_stream(
                    spark, "doc_id bigint, text string, lang string"
                ),
                process,
            )
            return spark.read.parquet(stage.out).select(
                "new_doc", "corpus_doc", "inter_ct", "union_ct", "is_dup"
            )
        finally:
            if corpus_bands is not None:
                corpus_bands.unpersist()
            if corpus is not None:
                corpus.unpersist()


def _incoming_stream_sql() -> str:
    """Same truth as the batch screen: the stream partitions the incoming
    set across micro-batches without changing any pair decision."""
    from realtimedatawarehouse_self_spark.plans.state_ops import (
        _incoming_sql,
    )

    return _incoming_sql()


# ---------------------------------------------------------------------------
# Streaming 3-way CHAINED stream-stream join — the funnel executed as one
# streaming topology: signup -> view (within the horizon) -> purchase
# (within the horizon of the view), all three legs watermarked, each join
# carrying an explicit event-time bound so BOTH state stores evict at
# their horizons. The 2-way twins (J1/J2) prove single-join semantics;
# this proves Spark's multi-join append-mode contract — the intermediate
# join's event-time column feeds the second join's range condition — the
# topology a real conversion funnel runs as a live pipeline rather than a
# batch window scan. Strict ts inequalities at both stages double as the
# sentinel guard: the typed flush rows share one timestamp and distinct
# sentinel users, so they can never chain.
# ---------------------------------------------------------------------------
FUNNEL_HORIZON_S = 43_200  # 12 h per stage: 88 matches at sf0.01, 13 at
# sf0.001 — wide enough that the driver row exercises real chained-state
# semantics (the r3 vacuous-join lesson), tight enough to stay bounded


def streaming_funnel_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(stream: DataFrame) -> DataFrame:
        s = (
            stream.filter(F.col("event_type") == "signup")
            .select(
                F.col("user_id").alias("s_user"),
                F.col("event_id").alias("signup_id"),
                F.col("ts").alias("s_ts"),
            )
            .withWatermark("s_ts", "2 seconds")
        )
        v = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 seconds")
        )
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
                money_cents("value").alias("p_cents"),
            )
            .withWatermark("p_ts", "2 seconds")
        )
        sv = s.join(
            v,
            (F.col("s_user") == F.col("v_user"))
            & (F.col("v_ts") > F.col("s_ts"))
            & (
                F.col("v_ts")
                <= F.col("s_ts") + F.expr(f"interval {FUNNEL_HORIZON_S} seconds")
            ),
        )
        # Spark's multi-join contract: at most ONE event-time column may
        # enter the next stream-stream join. The intermediate projection
        # renders s_ts to a plain string (a NEW attribute without the
        # watermark tag) and keeps v_ts as the sole event-time column
        # driving the second join's state eviction.
        sv = sv.select(
            "s_user",
            "signup_id",
            "view_id",
            F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
            "v_user",
            "v_ts",
        )
        svp = sv.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (
                F.col("p_ts")
                <= F.col("v_ts") + F.expr(f"interval {FUNNEL_HORIZON_S} seconds")
            ),
        )
        return svp.select(
            F.col("s_user").alias("user_id"),
            "signup_id",
            "view_id",
            "purchase_id",
            "signup_ts",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            cents_amount(F.col("p_cents")).alias("purchase_value"),
        )

    return _events_stream(
        spark,
        sf_dir,
        build,
        flush_filter=F.col("user_id") >= 0,
        flush_types=("signup", "view", "purchase"),
    )


_FUNNEL_3WAY_SQL = f"""
SELECT s.user_id,
       s.event_id AS signup_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CAST(CAST(floor(p.value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0
           AS purchase_value
FROM events s
JOIN events v
  ON s.user_id = v.user_id
 AND v.ts > s.ts
 AND v.ts <= s.ts + INTERVAL {FUNNEL_HORIZON_S} SECONDS
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL {FUNNEL_HORIZON_S} SECONDS
WHERE s.event_type = 'signup'
  AND v.event_type = 'view'
  AND p.event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# Streaming LATE-DROP twin — W4 (late-data drop) as an oracle-gated
# driver row instead of a pytest-only property: the stream replays a
# straggler-shard scenario (each day's shard-1 file delivered ~2 batch
# slots behind its day, the lagging-partition shape of a real fan-in),
# so straggler rows arrive after the watermark advanced past most of
# their day. Spark's actual drop contract was pinned EMPIRICALLY before
# writing the oracle (the two-phase watermark of SPARK-24634): a row in
# micro-batch k is dropped from a windowed aggregation iff
#   window_end <= watermark AT BATCH k-1's START
#                 = max event time over batches <= k-2, minus delay
# — late filtering runs one batch BEHIND eviction (probes: a window
# ending exactly AT that value drops — <=, not <; a row late only
# against the CURRENT batch's watermark is admitted and emitted in the
# same batch). The oracle computes exactly that predicate via an
# exclusive 2-lagged prefix-max over the per-batch event-time maxima, so
# the driver row proves the engine's late-data semantics row-for-row.
# ---------------------------------------------------------------------------
LATE_TWIN_DELAY_S = 21_600  # 6 h watermark delay
LATE_TWIN_SHARDS = 2
_LATE_STRAGGLER_OFFSET = 3  # shard-1 of day i ships at slot 2i+3 (s0 at 2i)


def streaming_late_drop_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-late-")
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("ts").isNotNull() & F.col("event_type").isNotNull()
        )
        shard = F.coalesce(
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)),"
                f" 1, 15), 16, 10) AS BIGINT) % {LATE_TWIN_SHARDS}"
            ),
            F.lit(0),
        )
        # delivery slot: shard-0 of day i at 2i, its straggler shard-1 at
        # 2i+3 — the same arithmetic the oracle derives from date diffs.
        # Only NONEMPTY slots become files (no `slots`): an empty file would
        # still occupy a micro-batch position and shift the one-batch-behind
        # late watermark off the oracle's frame.
        stage.stage_by(
            ev.select(
                "ts",
                "event_type",
                (
                    2 * _day_offset("to_date(ts)")
                    + F.when(shard == 0, 0).otherwise(_LATE_STRAGGLER_OFFSET)
                ).alias("slice"),
            ),
            "slice",
        )
        stage.stage_sentinel(
            ev.agg(
                (F.max("ts") + F.expr("INTERVAL 3 DAYS")).alias("ts")
            ).select("ts", F.lit(FLUSH_TYPE).alias("event_type"))
        )
        sunk = stage.run_to_parquet(
            spark,
            stage.read_stream(spark, "ts timestamp, event_type string")
            .withWatermark("ts", f"{LATE_TWIN_DELAY_S} seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "win_start"
                ),
                "event_type",
                "ct",
            ),
        )
        return sunk.filter(F.col("event_type") != FLUSH_TYPE)


_LATE_TWIN_SQL = f"""
WITH ev AS (
    SELECT ts, event_type, epoch_us(ts) AS t_us,
           (CAST(ts AS DATE)
            - (SELECT min(CAST(ts AS DATE)) FROM events
               WHERE ts IS NOT NULL AND event_type IS NOT NULL))
               * {LATE_TWIN_SHARDS}
           + CASE WHEN coalesce(TRY_CAST('0x' ||
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                      % {LATE_TWIN_SHARDS}, 0) = 0
                  THEN 0 ELSE {_LATE_STRAGGLER_OFFSET} END AS batch_seq
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
bmax AS (
    -- watermark AT BATCH k-1's START = max over batches <= k-2: the
    -- 2-lagged exclusive prefix-max over processing positions
    SELECT batch_seq,
           max(mx) OVER (ORDER BY batch_seq
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 2 PRECEDING) AS lag2_max_us
    FROM (SELECT batch_seq, max(t_us) AS mx FROM ev GROUP BY 1)
),
kept AS (
    SELECT e.ts, e.event_type
    FROM ev e JOIN bmax b USING (batch_seq)
    WHERE b.lag2_max_us IS NULL
       OR epoch_us(time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL 1 HOUR)
          > b.lag2_max_us - CAST({LATE_TWIN_DELAY_S} AS BIGINT) * 1000000
)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS ct
FROM kept
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark twin — the bounded-state dedup OPERATOR
# (Spark 3.5+) oracle-gated: per-day files (one row per user per day, the
# user's min event time) flow through dropDuplicatesWithinWatermark on
# user_id with a 2-day delay; a user is re-emitted each time their dedup
# state expires. The operator's ACTUAL semantics were pinned by probes
# before the oracle was written:
#   - only EMITTED rows set state (a dropped duplicate does not extend
#     the expiry); expiry = emitted row's event time + delay;
#   - state is evicted at the END of the batch whose START watermark
#     >= expiry (inclusive — probed at exact equality), so a duplicate
#     in batch k is dropped iff the entry survived batch k-1:
#       dropped  iff  max(event time over batches <= k-2) < e_ts + 2*delay
#   - hence the emission chain per user: e_1 = first appearance; each
#     next emit = the FIRST appearance in a batch whose 2-lagged prefix
#     max >= previous emit ts + 2*delay (monotone, so well-defined).
# The oracle replays that chain with a recursive CTE — the driver row
# proves the operator's re-emission cadence appearance-for-appearance.
# ---------------------------------------------------------------------------
DDW_DELAY_S = 172_800  # 2-day dedup horizon


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-ddw-")
        # one row per (day, user): the user's min event time that day —
        # within-batch dedup is then deterministic by construction; one
        # non-empty day per micro-batch (the oracle's positions)
        daily = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
            .groupBy(F.to_date("ts").alias("day"), "user_id")
            .agg(F.min("ts").alias("ts"))
        )
        stage.stage_by(
            daily.select("ts", "user_id", _day_offset("day").alias("slice")),
            "slice",
        )
        return stage.run_to_parquet(
            spark,
            stage.read_stream(spark, "ts timestamp, user_id bigint")
            .withWatermark("ts", f"{DDW_DELAY_S} seconds")
            .dropDuplicatesWithinWatermark(["user_id"]),
        ).select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("emit_ts"),
        )


# ---------------------------------------------------------------------------
# Config hot-swap twin — the reference's broadcast-state CRUD semantic
# (T7 BaseDBApp broadcast config stream + K5 per-rule routing,
# R/app/func/DIM_SinkFunction.java:28-92) as an oracle-gated driver row:
# routing rules are CONSULTED PER MICRO-BATCH (foreachBatch re-reads the
# rule table — the engine's documented substitution for Flink's
# broadcast-state stream, streaming/pipelines.py:184 idiom), so a rule
# update takes effect at the next batch. The twin runs the first half of
# the days (one slice) under rule set v1, swaps the rule table, then
# RESUMES from the same checkpoint over the second half under v2 — proving both
# the per-batch consult and that the swap composes with exactly-once
# restart. The oracle routes each day by the rule version active when
# its batch ran (deterministic: versions change only between runs).
# ---------------------------------------------------------------------------
_CFG_V1 = (("view", "t_view"), ("purchase", "t_trade"))
_CFG_V2 = (("view", "t_view"), ("purchase", "t_trade_v2"), ("click", "t_click"))


def streaming_config_swap_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-cfg-")
        rules = os.path.join(stage.base, "rules")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
            .select(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
                "event_type",
            )
            .withColumn("day_idx", F.expr("dense_rank() OVER (ORDER BY day) - 1"))
        )
        # slice 0: the first n_days // 2 days (v1); slice 1: the rest (v2)
        half = ev.select(
            "day",
            "event_type",
            F.expr("CAST(day_idx >= (max(day_idx) OVER () + 1) div 2 AS INT)")
            .alias("slice"),
        )

        def write_rules(pairs):
            spark.createDataFrame(
                list(pairs), "event_type string, route string"
            ).coalesce(1).write.mode("overwrite").parquet(rules)

        def route_batch(batch_df, batch_id):
            # the per-batch config consult (T7): re-read the rule table
            rule_df = batch_df.sparkSession.read.parquet(rules)
            (
                batch_df.join(F.broadcast(rule_df), "event_type")
                .write.mode("append")
                .parquet(stage.out)
            )

        stream = stage.read_stream(spark, "day string, event_type string")
        write_rules(_CFG_V1)
        stage.stage_by(half.filter(F.col("slice") == 0), "slice")
        stage.run_foreach_batch(stream, route_batch)
        write_rules(_CFG_V2)
        stage.stage_by(half.filter(F.col("slice") == 1), "slice")
        # resume from the same checkpoint under the swapped rules
        stage.run_foreach_batch(stream, route_batch)
        if not _has_parquet(stage.out):
            # no events: nothing was staged, so the sink never ran, and its
            # output (batch joined to the rule table) is not the stream's
            # schema
            return spark.createDataFrame(
                [], "day string, event_type string, route string, ct bigint"
            )
        return (
            spark.read.parquet(stage.out)
            .groupBy("day", "event_type", "route")
            .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        )


def _cfg_swap_sql() -> str:
    v1 = ", ".join(f"('{t}', '{r}', 1)" for t, r in _CFG_V1)
    v2 = ", ".join(f"('{t}', '{r}', 2)" for t, r in _CFG_V2)
    return f"""
WITH ev AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
days AS (
    SELECT day, row_number() OVER (ORDER BY day) - 1 AS day_idx,
           count(*) OVER () AS n_days
    FROM (SELECT DISTINCT day FROM ev)
),
rules AS (
    SELECT * FROM (VALUES {v1}, {v2}) r(event_type, route, version)
),
routed AS (
    SELECT e.day, e.event_type, r.route
    FROM ev e
    JOIN days d ON d.day = e.day
    JOIN rules r
      ON r.event_type = e.event_type
     AND r.version = CASE WHEN d.day_idx < d.n_days // 2 THEN 1 ELSE 2 END
)
SELECT day, event_type, route, CAST(count(*) AS BIGINT) AS ct
FROM routed GROUP BY 1, 2, 3
"""


def _ddw_sql() -> str:
    # DuckDB recursive CTE replaying the emission chain
    return f"""
WITH RECURSIVE app AS (
    SELECT user_id,
           CAST(CAST(ts_day AS DATE)
               - (SELECT min(CAST(ts AS DATE)) FROM events
                  WHERE ts IS NOT NULL AND user_id IS NOT NULL)
               AS BIGINT) AS pos,
           min_ts
    FROM (
        SELECT user_id, CAST(ts AS DATE) AS ts_day, min(ts) AS min_ts
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
    )
),
bm AS (
    SELECT pos,
           max(mx) OVER (ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 2 PRECEDING) AS lag2_max
    FROM (SELECT pos, max(min_ts) AS mx FROM app GROUP BY 1)
),
emits AS (
    SELECT user_id, pos, min_ts FROM (
        SELECT user_id, pos, min_ts,
               row_number() OVER (PARTITION BY user_id ORDER BY pos) AS rn
        FROM app
    ) WHERE rn = 1
    UNION ALL
    SELECT e.user_id, a.pos, a.min_ts
    FROM emits e
    JOIN app a
      ON a.user_id = e.user_id
     AND a.pos = (
         SELECT min(a2.pos)
         FROM app a2 JOIN bm b2 ON b2.pos = a2.pos
         WHERE a2.user_id = e.user_id
           AND a2.pos > e.pos
           AND b2.lag2_max >= e.min_ts + INTERVAL {DDW_DELAY_S * 2} SECONDS
     )
)
SELECT user_id,
       strftime(min_ts, '%Y-%m-%d %H:%M:%S') AS emit_ts
FROM emits
"""


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch — the MERGEABLE-sketch driver row: each
# day's K-minimum-values set is carried in keyed state across micro-
# batches, with the stream deliberately sliced by USER (not by day) so
# every day key must merge partial sketches from every batch — the exact
# property (K-min of a union ⊆ union of K-mins) that lets a 100 TB
# deployment keep daily sketches and answer any window by merging.
# Shares kmv_distinct_daily's oracle: the driver row proves the streaming
# merge reaches the identical sketch (same h_k, same n_in, same estimate)
# as the batch computation, independent of batch boundaries.
# ---------------------------------------------------------------------------
KMV_STREAM_SLICES = 3  # user_id % 3 slices -> every day merges 3 partials


def streaming_kmv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.sketches import (
        KMV_K,
        _h60,
        _kmv_estimate,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import kmv_kmin

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-kmv-")
        # (day, h) distinct — the SAME grain as the shared batch
        # oracle's dh CTE; slices key on the hash so the frame needs
        # no user column
        dh = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
                _h60("user_id").alias("h"),
            )
            .distinct()
        )
        stage.stage_by(
            dh.select(
                "day",
                "h",
                F.lit(0).cast("int").alias("flush"),
                (F.col("h") % KMV_STREAM_SLICES).alias("slice"),
            ),
            "slice",
        )
        stage.stage_sentinel(
            dh.select("day")
            .distinct()
            .select(
                "day",
                F.lit(0).cast("bigint").alias("h"),
                F.lit(1).cast("int").alias("flush"),
            )
        )
        schema = "day string, h bigint, flush int"
        sketch = stage.run_to_parquet(
            spark, kmv_kmin(stage.read_stream(spark, schema), k=KMV_K)
        ).select("day", "h_k", "n_in")
        exact = dh.groupBy("day").agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_users")
        )
        est = sketch.join(exact, "day").select(
            F.col("day").alias("d"),
            "exact_users",
            _kmv_estimate("h_k", "n_in").alias("kmv_users"),
        )
        return est.select(
            "d",
            "exact_users",
            "kmv_users",
            F.expr(
                "CAST(abs(kmv_users - exact_users) * 1000000"
                " div exact_users AS BIGINT)"
            ).alias("err_ppm"),
        )


def _kmv_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.sketches import _KMV_DAILY_SQL

    return _KMV_DAILY_SQL


# ---------------------------------------------------------------------------
# Streaming CDC APPLY twin — the closest a broker-less container gets to
# the reference's core loop (S3 Maxwell envelope -> P1 JSON parse -> P3
# op handling -> K3/K5 keyed upsert with tombstones,
# R/app/BaseDBApp.java:53 / MyKafkaUtil.java:129-148 /
# DIM_SinkFunction.java:28-92): a deterministic Maxwell-envelope op log
# (insert for every order; an UPDATE wave for o_orderkey%3==0; a DELETE
# wave for o_orderkey%13==0) flows as real micro-batches through
# parse_maxwell + a foreachBatch merge into the crash-safe upsert store —
# now exercising upsert_parquet's tombstone leg (delete_col), the
# Delta-MERGE "WHEN MATCHED THEN DELETE" analogue. Batch slicing is
# adversarial on purpose: batch 1 carries insert+update for even keys
# (within-batch last-writer resolution must pick the update), batch 2
# carries the odd-key updates and ALL deletes (cross-batch upsert + key
# removal). The batch-id high-water mark rides in the swap's atomic meta,
# so a replay is skipped iff its merge committed (same contract as
# streaming_incremental_rollup). The oracle replays last-op-per-key wins /
# delete-drops in SQL over the same arithmetic.
# ---------------------------------------------------------------------------
def streaming_cdc_apply_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.sources.envelopes import (
        parse_maxwell,
    )
    from realtimedatawarehouse_self_spark.streaming.sinks import upsert_parquet

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-cdc-")
        store = os.path.join(stage.base, "store")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        env = (
            "to_json(named_struct("
            "'database', 'warehouse', 'table', 'orders', 'type', {typ},"
            " 'ts', CAST({seq} AS BIGINT),"
            " 'data', map('id', CAST(o_orderkey AS STRING),"
            "             'status', {status},"
            "             'total_cents', CAST(cents AS STRING))))"
        )
        inserts = orders.select(
            F.expr(
                env.format(typ="'insert'", seq=1, status="o_orderstatus")
            ).alias("value"),
            F.lit(0).alias("slice"),
        )
        updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.expr(env.format(typ="'update'", seq=2, status="'U'")).alias(
                "value"
            ),
            (F.col("o_orderkey") % 2).alias("slice"),
        )
        deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
            F.expr(
                env.format(typ="'delete'", seq=3, status="o_orderstatus")
            ).alias("value"),
            F.lit(1).alias("slice"),
        )
        stage.stage_by(
            inserts.unionByName(updates).unionByName(deletes), "slice", slots=2
        )

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            rows = parse_maxwell(batch_df).select(
                F.element_at("data", "id").cast("bigint").alias("order_id"),
                F.element_at("data", "status").alias("status"),
                F.element_at("data", "total_cents")
                .cast("bigint")
                .alias("total_cents"),
                F.col("ts").alias("last_seq"),
                (F.col("type") == "delete").alias("is_delete"),
            )
            upsert_parquet(
                batch_df.sparkSession,
                rows,
                store,
                keys=["order_id"],
                order_col="last_seq",
                meta={"batch_id": batch_id},
                delete_col="is_delete",
            )

        # both slots are always staged, so the store is always written
        stage.run_foreach_batch(
            stage.read_stream(spark, "value string"), apply_batch
        )
        return spark.read.parquet(store).select(
            "order_id", "status", "total_cents", "last_seq"
        )


_CDC_APPLY_SQL = """
WITH base AS (
    SELECT o_orderkey AS order_id, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
    FROM orders
)
SELECT order_id,
       CASE WHEN order_id % 3 = 0 THEN 'U' ELSE o_orderstatus END AS status,
       total_cents,
       CAST(CASE WHEN order_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
           AS last_seq
FROM base
WHERE order_id % 13 <> 0
"""


# ---------------------------------------------------------------------------
# Streaming HLL register merge — the FIXED-WIDTH mergeable-sketch driver
# row, completing the streaming sketch-state trio (KMV K-set:
# `streaming_kmv_daily`; Misra–Gries counters: `streaming_topk_hitters`;
# HLL registers: this). Each day's 64-register vector is carried in
# keyed state across micro-batches with an elementwise-max fold —
# commutative/associative/idempotent, so the stream is deliberately
# sliced by HASH (not by day): every day key must merge partials from
# every batch, and the final registers must equal the batch
# computation's bit-for-bit. The oracle recomputes the per-day HLL
# estimate (the daily grain of `hll_union_rolling`'s register algebra,
# same alpha/harmonic integer doctrine) directly in SQL.
# ---------------------------------------------------------------------------
HLL_STREAM_SLICES = 3


def streaming_hll_merge_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.sketches import (
        HLL_ALPHA_MICRO,
        HLL_M,
        _HLL_POW_REST,
        _HLL_RANK_MAX,
        _HLL_SCALE,
        _daily_hashes,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        hll_register_merge,
    )

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-hll-")
        dh = _daily_hashes(spark, sf_dir)
        stage.stage_by(
            dh.select(
                F.date_format("d", "yyyy-MM-dd").alias("day"),
                F.expr(f"h div {_HLL_POW_REST}").alias("reg"),
                F.expr(
                    f"CASE WHEN h % {_HLL_POW_REST} = 0 THEN {_HLL_RANK_MAX} "
                    f"ELSE {_HLL_RANK_MAX} - length(bin(h % {_HLL_POW_REST}))"
                    f" END"
                ).alias("rank"),
                F.lit(0).cast("int").alias("flush"),
                (F.col("h") % HLL_STREAM_SLICES).alias("slice"),
            ),
            "slice",
        )
        stage.stage_sentinel(
            dh.select(F.date_format("d", "yyyy-MM-dd").alias("day"))
            .distinct()
            .select(
                "day",
                F.lit(0).cast("bigint").alias("reg"),
                F.lit(0).cast("bigint").alias("rank"),
                F.lit(1).cast("int").alias("flush"),
            )
        )
        schema = "day string, reg bigint, rank bigint, flush int"
        sketch = stage.run_to_parquet(
            spark,
            hll_register_merge(
                stage.read_stream(spark, schema),
                m=HLL_M,
                rank_max=_HLL_RANK_MAX,
            ),
        ).select("day", "occupied_regs", "s_occ")
        exact = dh.groupBy(
            F.date_format("d", "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("exact_users"))
        est = (
            sketch.join(exact, "day")
            .withColumn(
                "s_total",
                F.expr(
                    f"s_occ + ({HLL_M} - occupied_regs)"
                    f" * CAST({_HLL_SCALE} AS BIGINT)"
                ),
            )
            .withColumn(
                "hll_users",
                F.expr(
                    f"CAST(CAST({HLL_ALPHA_MICRO} AS DECIMAL(38,0))"
                    f" * {HLL_M} * {HLL_M} * {_HLL_SCALE}"
                    f" div (CAST(s_total AS DECIMAL(38,0)) * 1000000)"
                    f" AS BIGINT)"
                ),
            )
        )
        return est.select(
            "day",
            "exact_users",
            "hll_users",
            F.expr(
                "CAST(abs(hll_users - exact_users) * 1000000"
                " div exact_users AS BIGINT)"
            ).alias("err_ppm"),
            "occupied_regs",
        )


def _hll_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.sketches import (
        _H60_DUCK,
        HLL_ALPHA_MICRO,
        HLL_M,
        _HLL_POW_REST,
        _HLL_RANK_MAX,
        _HLL_SCALE,
    )

    return f"""
WITH dh AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d,
           {_H60_DUCK.format(col="user_id")} AS h
    FROM events WHERE user_id IS NOT NULL
),
daily_reg AS (
    SELECT d, h // {_HLL_POW_REST} AS reg,
           max(CASE WHEN h % {_HLL_POW_REST} = 0 THEN {_HLL_RANK_MAX}
               ELSE {_HLL_RANK_MAX} - length(bin(h % {_HLL_POW_REST}))
               END) AS m
    FROM dh GROUP BY 1, 2
),
sk AS (
    SELECT d, CAST(count(*) AS BIGINT) AS occupied_regs,
           CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RANK_MAX} - m)) AS BIGINT)
               AS s_occ
    FROM daily_reg GROUP BY 1
),
exact AS (
    SELECT d, CAST(count(*) AS BIGINT) AS exact_users FROM dh GROUP BY 1
),
est AS (
    SELECT s.d, e.exact_users, s.occupied_regs,
           s.s_occ + ({HLL_M} - s.occupied_regs)
               * CAST({_HLL_SCALE} AS BIGINT) AS s_total
    FROM sk s JOIN exact e USING (d)
),
fin AS (
    SELECT d, exact_users,
           CAST(CAST({HLL_ALPHA_MICRO} AS HUGEINT)
                * {HLL_M} * {HLL_M} * {_HLL_SCALE}
                // (CAST(s_total AS HUGEINT) * 1000000) AS BIGINT)
               AS hll_users,
           occupied_regs
    FROM est
)
SELECT strftime(d, '%Y-%m-%d') AS day, exact_users, hll_users,
       CAST(abs(hll_users - exact_users) * 1000000 // exact_users
            AS BIGINT) AS err_ppm,
       occupied_regs
FROM fin
"""


# ---------------------------------------------------------------------------
# Streaming incremental JOIN-view maintenance — the ONLINE half of
# `plans/state_ops.incremental_join_maintenance` (which proves the
# two-sided delta-join algebra in batch): order deltas arrive as real
# micro-batches, each performs the stream-static broadcast join against
# the customer dim (ΔO ⋈ C — the delta rule with a static right side)
# and additively merges its partial aggregate into the crash-safe view
# store, batch-id high-water mark riding in the swap's atomic meta
# (exactly-once under replay, same contract as
# streaming_incremental_rollup). The oracle computes the direct
# full-join aggregate, with `n_batches` re-derived from the
# deterministic slice residues — proving the maintained view equals a
# from-scratch rebuild after any number of delta merges.
# ---------------------------------------------------------------------------
IVM_STREAM_SLICES = 3


def streaming_ivm_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import money_cents
    from realtimedatawarehouse_self_spark.streaming.sinks import upsert_parquet

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-ivm-")
        store = os.path.join(stage.base, "store")
        orders = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_custkey").isNotNull())
            .select(
                "o_orderkey",
                "o_custkey",
                money_cents("o_totalprice").alias("cents"),
            )
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        stage.stage_by(
            orders.withColumn("slice", F.col("o_orderkey") % IVM_STREAM_SLICES),
            "slice",
            slots=IVM_STREAM_SLICES,
        )

        def merge(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            part = (
                batch_df.join(
                    F.broadcast(cust),
                    batch_df["o_custkey"] == cust["c_custkey"],
                )
                .groupBy("c_nationkey")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                    F.sum("cents").cast("bigint").alias("total_cents"),
                    F.lit(1).cast("bigint").alias("n_batches"),
                )
            )
            if os.path.exists(store):
                cur = sess.read.parquet(store).select(
                    "c_nationkey",
                    F.col("n_orders").alias("o0"),
                    F.col("total_cents").alias("t0"),
                    F.col("n_batches").alias("b0"),
                )
                # SUM-compatible NULL algebra: a partial whose cents were
                # all NULL merges as 0 against existing values, but two
                # NULL sides stay NULL — slice-invariant, equal to one
                # global SUM.
                part = part.join(cur, ["c_nationkey"], "full_outer").select(
                    "c_nationkey",
                    (F.coalesce("n_orders", F.lit(0)) + F.coalesce("o0", F.lit(0)))
                    .cast("bigint")
                    .alias("n_orders"),
                    F.expr(
                        "CASE WHEN total_cents IS NULL AND t0 IS NULL"
                        " THEN NULL ELSE coalesce(total_cents, 0)"
                        " + coalesce(t0, 0) END"
                    )
                    .cast("bigint")
                    .alias("total_cents"),
                    (F.coalesce("n_batches", F.lit(0)) + F.coalesce("b0", F.lit(0)))
                    .cast("bigint")
                    .alias("n_batches"),
                )
            upsert_parquet(
                sess,
                part,
                store,
                keys=["c_nationkey"],
                meta={"batch_id": batch_id},
            )

        schema = "o_orderkey bigint, o_custkey bigint, cents bigint"
        stage.run_foreach_batch(stage.read_stream(spark, schema), merge)
        return spark.read.parquet(store).select(
            "c_nationkey", "n_orders", "total_cents", "n_batches"
        )


_IVM_STREAM_SQL = f"""
WITH joined AS (
    SELECT c.c_nationkey,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o.o_orderkey % {IVM_STREAM_SLICES} AS slice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(count(DISTINCT slice) AS BIGINT) AS n_batches
FROM joined
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# UPDATE-output-mode twin — every other twin runs append mode; this one
# oracle-gates Spark's third emission contract: an un-watermarked
# aggregation in update mode emits, AT EACH micro-batch, the current
# cumulative value of exactly the groups that batch touched. The stream
# is sliced by user hash (not by key), so most (type, day) groups are
# touched by several batches and the sink receives their full emission
# SEQUENCE — which the oracle re-derives as per-slice cumulative sums
# (a group appears at slice s iff the slice holds >=1 of its rows, with
# the running total over slices <= s). That is the dashboard-refresh
# semantics (emit-on-change) the reference's per-window upserts produce,
# proven against SQL. State note: update mode without a watermark keeps
# all group state — correct here (bounded key domain: types x days);
# production unbounded-key uses the watermarked variant the other twins
# cover.
# ---------------------------------------------------------------------------
UPDATE_TWIN_SLICES = 3


def streaming_update_mode_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.sketches import _h60

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-upd-")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
            .select(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
                "event_type",
                (_h60("user_id") % UPDATE_TWIN_SLICES).alias("slice"),
            )
        )
        # slice i is micro-batch i (the oracle's batch_seq), empty or not
        stage.stage_by(ev, "slice", slots=UPDATE_TWIN_SLICES)

        out_rows = os.path.join(stage.base, "emissions")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn(
                "batch_seq", F.lit(batch_id).cast("bigint")
            ).write.mode("append").parquet(out_rows)

        agg = (
            stage.read_stream(spark, "day string, event_type string")
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cum_events"))
        )
        stage.run_foreach_batch(agg, sink, output_mode="update")
        return spark.read.parquet(out_rows).select(
            "day", "event_type", "batch_seq", "cum_events"
        )


def _update_twin_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.sketches import _H60_DUCK

    return f"""
WITH base AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           ({_H60_DUCK.format(col="user_id")}) % {UPDATE_TWIN_SLICES}
               AS slice
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
per AS (
    SELECT day, event_type, slice, CAST(count(*) AS BIGINT) AS n
    FROM base GROUP BY 1, 2, 3
)
SELECT day, event_type,
       CAST(slice AS BIGINT) AS batch_seq,
       CAST(sum(n) OVER (PARTITION BY day, event_type ORDER BY slice
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
FROM per
"""


# ---------------------------------------------------------------------------
# COMPLETE-output-mode twin — the last of Spark's three emission
# contracts (append: every windowed twin; update:
# streaming_update_mode_twin; complete: this). A complete-mode
# aggregation re-emits its ENTIRE result — every group seen so far —
# at every micro-batch, including groups the batch did not touch. The
# slicing makes that observable: slice 0 carries half of every type's
# users, slice 1 the other half of every type EXCEPT 'click', slice 2
# the remaining 'click' rows — so batch 1 must re-emit 'click' with an
# UNCHANGED count (update mode would omit it; the oracle's grid is
# exactly "every (type, batch >= first-appearance) pair with the
# running total"). Complete mode requires a bounded key domain by
# contract (full-state re-emission) — true here (|event types|).
# ---------------------------------------------------------------------------
_CMP_H60 = (
    "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT)"
)


def streaming_complete_mode_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-cmp-")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select(
                "event_type",
                F.expr(
                    f"CASE WHEN {_CMP_H60} % 2 = 0"
                    " THEN 0 WHEN event_type = 'click' THEN 2 ELSE 1 END"
                ).alias("slice"),
            )
        )
        # slice i is micro-batch i (the oracle's batch_seq), empty or not
        stage.stage_by(ev, "slice", slots=3)

        out_rows = os.path.join(stage.base, "emissions")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn(
                "batch_seq", F.lit(batch_id).cast("bigint")
            ).write.mode("append").parquet(out_rows)

        agg = (
            stage.read_stream(spark, "event_type string")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cum_events"))
        )
        stage.run_foreach_batch(agg, sink, output_mode="complete")
        return spark.read.parquet(out_rows).select(
            "event_type", "batch_seq", "cum_events"
        )


def _complete_twin_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.sketches import _H60_DUCK

    return f"""
WITH base AS (
    SELECT event_type,
           CASE WHEN ({_H60_DUCK.format(col="user_id")}) % 2 = 0 THEN 0
                WHEN event_type = 'click' THEN 2 ELSE 1 END AS slice
    FROM events
    WHERE user_id IS NOT NULL
),
per AS (
    SELECT event_type, slice, CAST(count(*) AS BIGINT) AS n
    FROM base GROUP BY 1, 2
),
grid AS (
    SELECT p.event_type, CAST(u.b AS BIGINT) AS batch_seq,
           CAST(sum(CASE WHEN p.slice <= u.b THEN p.n ELSE 0 END)
                AS BIGINT) AS cum_events
    FROM (SELECT DISTINCT event_type FROM per) t
    JOIN per p USING (event_type), UNNEST(range(0, 3)) AS u(b)
    GROUP BY 1, 2
)
SELECT event_type, batch_seq, cum_events
FROM grid
WHERE cum_events > 0
"""


# ---------------------------------------------------------------------------
# Streaming per-domain admission cap — the ingest-time twin of
# plans/corpus_ops.py::domain_frequency_cap (wave 28): documents arrive
# host-keyed in ascending doc_id micro-batches (a real ingest stream keys
# arrival by log offset); keyed state carries ONE bigint per host (the
# admitted count) and each batch admits only up to the remaining room, so
# the cap is exact across batches. The oracle is the batch statement
# "first DOMAIN_CAP docs per host by doc_id" — the twin must reproduce it
# through real multi-micro-batch execution with carried state.
# ---------------------------------------------------------------------------
DOMCAP_BATCHES = 3


def streaming_domain_cap_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        DOMAIN_CAP,
        _HOST_EXPR,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        admit_first_k,
    )

    with _twin_confs(spark):
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .withColumn("host", F.expr(_HOST_EXPR))
            .select("host", F.col("doc_id").cast("long").alias("doc_id"))
        )
        stage = _MicroBatchStage("rtdw-domcap-")
        # ascending doc_id ranges → batch i holds strictly smaller ids
        # than batch i+1 (the feeder's half of the arrival contract)
        stage.stage_by(
            docs.withColumn("slice", _range_band("doc_id", DOMCAP_BATCHES)),
            "slice",
        )
        schema = "host string, doc_id long"
        return stage.run_to_parquet(
            spark,
            admit_first_k(
                stage.read_stream(spark, schema), cap=DOMAIN_CAP
            ),
        )


def _domcap_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        DOMAIN_CAP,
        _HOST_EXPR,
    )

    return f"""
WITH d AS (
  SELECT doc_id, {_HOST_EXPR} AS host
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT host, doc_id,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
              AS BIGINT) AS admit_seq
  FROM d
)
SELECT host, doc_id, admit_seq FROM r WHERE admit_seq <= {DOMAIN_CAP}
"""


# ---------------------------------------------------------------------------
# Streaming discounted episode returns — the RL-log fold as a real keyed-
# custom-state job: the gamma=1/2 per-term shift decay of
# `curation.episode_discounted_returns` executed across hour-banded
# micro-batches, with (step index, running total, running return)
# carrying in the state store. Episodes deliberately SPAN batches (three
# 8-hour bands per day), so the driver row proves the fold's state carry
# and the within/across-batch ordering contract — not just the
# arithmetic. Emission is cumulative per batch; the final row per
# episode (max n_steps, strictly increasing) must equal the batch
# operator bit-for-bit, so the oracle is _EPISODE_SQL verbatim.
# ---------------------------------------------------------------------------
EPISODE_HOUR_BAND = 8


def streaming_episode_return_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        episode_returns,
    )

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-episode-")
        # three hour bands, staged in order: every key's later-hour rows
        # land in strictly later micro-batches
        schema = stage.stage_by(
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
            .select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("ts_micro"),
                F.coalesce("event_id", F.lit(-1)).cast("bigint").alias("ord_eid"),
                F.expr(
                    "CAST(floor(coalesce(value, 0.0) * 100 + 0.5) AS BIGINT)"
                ).alias("r"),
                F.expr(f"hour(ts) div {EPISODE_HOUR_BAND}").alias("slice"),
            ),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark, episode_returns(stage.read_stream(spark, schema))
        )
        return (
            sunk.groupBy("user_id", "day")
            .agg(
                F.max_by(
                    F.struct(
                        "n_steps",
                        "total_reward_cents",
                        "discounted_return_cents",
                    ),
                    "n_steps",
                ).alias("fin")
            )
            .select(
                "user_id",
                "day",
                F.col("fin.n_steps").alias("n_steps"),
                F.col("fin.total_reward_cents").alias("total_reward_cents"),
                F.col("fin.discounted_return_cents").alias(
                    "discounted_return_cents"
                ),
            )
        )


def _episode_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.curation import _EPISODE_SQL

    return _EPISODE_SQL


# ---------------------------------------------------------------------------
# Streaming CDC-chunk owner election — the 24th twin (r10): the
# ingest-time half of `retrieval.cdc_chunk_dedup`. Documents arrive in
# ascending-doc_id micro-batches (the domain-cap feeder contract, keyed
# by log offset in production); each document's content-defined chunks
# fan out batch-side (the shared `_cdc_chunk_frame` arithmetic), and the
# keyed state elects each chunk hash's owner (first doc seen == batch
# min under the arrival contract) while counting distinct docs and
# occurrences in O(1) state per hash — run-length on the nondecreasing
# doc stream, never a doc set. The oracle recomputes owners/counts from
# the batch chunk CTEs, so the driver row proves state carry ACROSS
# batches (hashes recur in later batches by construction: duplicated
# content spans the doc_id range).
# ---------------------------------------------------------------------------
CHUNK_OWNER_BATCHES = 4


def streaming_chunk_owner_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.retrieval import (
        _cdc_chunk_frame,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        chunk_owner_election,
    )

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-chunkown-")
        stage.stage_by(
            _cdc_chunk_frame(spark, sf_dir).select(
                "chunk_md5",
                F.col("doc_id").cast("long"),
                _range_band("doc_id", CHUNK_OWNER_BATCHES).alias("slice"),
            ),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark,
            chunk_owner_election(
                stage.read_stream(spark, "chunk_md5 string, doc_id long")
            ),
        )
        # cumulative emissions: final row per hash = max occurrences;
        # report duplicated chunks only (n_docs >= 2), matching the
        # batch op's dup semantics
        fin = (
            sunk.groupBy("chunk_md5")
            .agg(
                F.max_by(
                    F.struct("owner_doc", "n_docs", "n_occurrences"),
                    "n_occurrences",
                ).alias("fin")
            )
            .select(
                "chunk_md5",
                F.col("fin.owner_doc").alias("owner_doc"),
                F.col("fin.n_docs").alias("n_docs"),
                F.col("fin.n_occurrences").alias("n_occurrences"),
            )
        )
        return fin.filter(F.col("n_docs") >= 2)


def _chunk_owner_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.retrieval import (
        _CDC_CHUNK_CTES,
    )

    return f"""
WITH {_CDC_CHUNK_CTES}
SELECT chunk_md5,
       CAST(min(doc_id) AS BIGINT) AS owner_doc,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM chunks
GROUP BY 1
HAVING count(DISTINCT doc_id) >= 2
"""


# ---------------------------------------------------------------------------
# Streaming vocabulary-growth twin — the 25th twin (r10): the Heaps-law
# curve of `corpus_ops.vocab_growth_curve` computed as a real keyed-
# custom-state job. Documents arrive in ascending doc_id-band
# micro-batches (one batch per curve checkpoint — TEN batches, the
# longest state carry in the twin suite); each token's state is ONE int
# (the band it was first seen in, set once, never updated), so the
# state store holds |vocab| ints at any corpus size. The per-band doc
# and token masses are batch-side arithmetic over the same banded frame
# (harness staging, the twins' standard split); the streamed half is
# exactly the part that NEEDS cross-batch memory — type novelty. The
# oracle is _VOCAB_GROWTH_SQL verbatim, so the driver row proves the
# multi-batch election equals the batch curve bit-for-bit.
# ---------------------------------------------------------------------------
def streaming_vocab_growth_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as _W

    from realtimedatawarehouse_self_spark.functions.exprs import tokens
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        VOCAB_BANDS,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        vocab_first_seen,
    )

    with _twin_confs(spark):
        banded = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
            .withColumn("tok_arr", tokens("text"))
            .filter(F.size("tok_arr") >= 1)
            .select(
                "tok_arr",
                F.expr(
                    f"CAST((doc_id - min(doc_id) OVER ()) * {VOCAB_BANDS}"
                    " div (max(doc_id) OVER () - min(doc_id) OVER () + 1)"
                    " AS INT)"
                ).alias("band"),
            )
        )
        stage = _MicroBatchStage("rtdw-vocabgr-")
        # one band per micro-batch, in band order
        stage.stage_by(
            banded.select(
                "band", F.explode("tok_arr").alias("tok"), F.col("band").alias("slice")
            ).distinct(),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark,
            vocab_first_seen(stage.read_stream(spark, "tok string, band int")),
        )
        # cumulative emissions re-state a constant row once set
        new_types = (
            sunk.select("tok", "first_band")
            .distinct()
            .groupBy(F.col("first_band").alias("band"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
        )
        band_docs = banded.groupBy("band").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size("tok_arr")).cast("bigint").alias("band_tokens"),
        )
        curve = band_docs.join(new_types, "band", "left").withColumn(
            "new_types", F.coalesce("new_types", F.lit(0)).cast("bigint")
        )
        wcum = (
            _W.partitionBy()
            .orderBy("band")
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)
        )
        return (
            curve.withColumn(
                "cum_tokens",
                F.sum("band_tokens").over(wcum).cast("bigint"),
            )
            .withColumn("cum_vocab", F.sum("new_types").over(wcum).cast("bigint"))
            .select(
                "band",
                "n_docs",
                "band_tokens",
                "cum_tokens",
                "new_types",
                "cum_vocab",
                F.expr("cum_vocab * 1000000 div cum_tokens").alias(
                    "type_token_micro"
                ),
            )
        )


def _vocab_growth_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        _VOCAB_GROWTH_SQL,
    )

    return _VOCAB_GROWTH_SQL


# ---------------------------------------------------------------------------
# Streaming crawl-frontier twin — the 26th twin (r10): the politeness
# scheduler of `corpus_ops.crawl_frontier_plan` as a real keyed-custom-
# state job. URLs arrive priority-first (batches hold ascending per-host
# rank slices — the production frontier drains its priority queue in
# this order); each host's state carries ONE long (URLs already
# scheduled) and every arrival takes epoch = count div HOST_FETCH_RATE —
# so the assignment must equal the batch rank formula EXACTLY, proving
# the counter's carry across batches. The oracle is _FRONTIER_SQL
# verbatim.
# ---------------------------------------------------------------------------
FRONTIER_TWIN_BATCHES = 4


def streaming_frontier_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        HOST_FETCH_RATE,
        _HOST_EXPR,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        frontier_epoch_assign,
    )
    from pyspark.sql import Window as _W

    with _twin_confs(spark):
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .withColumn("host", F.expr(_HOST_EXPR))
            .select("doc_id", "host", "n_chars")
        )
        wr = _W.partitionBy("host").orderBy(F.col("n_chars").desc(), "doc_id")
        ranked = docs.withColumn("rank", F.row_number().over(wr).cast("int"))
        stage = _MicroBatchStage("rtdw-frontier-")
        # ascending per-host rank ranges (ranks start at 1)
        stage.stage_by(
            ranked.withColumn(
                "slice", _range_band("rank", FRONTIER_TWIN_BATCHES)
            ),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark,
            frontier_epoch_assign(
                stage.read_stream(
                    spark,
                    "host string, doc_id long, n_chars long, rank int",
                ),
                HOST_FETCH_RATE,
            ),
        )
        per_cell = sunk.groupBy("host", "fetch_epoch").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.sum("n_chars").cast("bigint").alias("epoch_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        return per_cell.withColumn(
            "host_epochs",
            F.expr(
                f"CAST((sum(n_urls) OVER (PARTITION BY host) - 1)"
                f" div {HOST_FETCH_RATE} + 1 AS BIGINT)"
            ),
        ).select(
            "host",
            "fetch_epoch",
            "n_urls",
            "epoch_chars",
            "first_doc_id",
            "host_epochs",
        )


def _frontier_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        _FRONTIER_SQL,
    )

    return _FRONTIER_SQL


# ---------------------------------------------------------------------------
# Streaming SFT-gate twin — the 27th twin (r10 wave 48): the conversation
# structure gate of `sft_ops.sft_turn_structure_audit` as a real keyed-
# custom-state job. Turns arrive in hour-banded micro-batches (three
# 8-hour bands, so conversations deliberately SPAN batches); each
# conversation's state carries six small ints (counters + first/last
# role codes), and cross-batch alternation violations are exact because
# the state keeps the previous batch's last role. Emission is cumulative
# per batch; the final row per key (max n_turns, strictly increasing)
# must equal the batch operator bit-for-bit, so the oracle is
# _TURN_STRUCTURE_SQL verbatim.
# ---------------------------------------------------------------------------
SFT_HOUR_BAND = 8


def streaming_sft_gate_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.sft_ops import (
        _USER_TYPES,
        MIN_TURNS,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        sft_gate_fold,
    )

    with _twin_confs(spark):
        stage = _MicroBatchStage("rtdw-sftgate-")
        schema = stage.stage_by(
            load_table(spark, sf_dir, "events")
            .filter(
                F.col("ts").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull()
            )
            .select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("ts_micro"),
                F.coalesce("event_id", F.lit(-1)).cast("bigint").alias("ord_eid"),
                F.when(F.col("event_type").isin(*_USER_TYPES), "user")
                .otherwise("assistant")
                .alias("role"),
                F.expr(f"hour(ts) div {SFT_HOUR_BAND}").alias("slice"),
            ),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark, sft_gate_fold(stage.read_stream(spark, schema), MIN_TURNS)
        )
        fin_cols = [
            "n_turns",
            "n_user_turns",
            "n_assistant_turns",
            "alternation_violations",
            "starts_user",
            "ends_assistant",
            "decision",
        ]
        return (
            sunk.groupBy("user_id", "day")
            .agg(F.max_by(F.struct(*fin_cols), "n_turns").alias("fin"))
            .select(
                "user_id",
                "day",
                *[F.col(f"fin.{c}").alias(c) for c in fin_cols],
            )
        )


def _sft_gate_stream_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.sft_ops import (
        _TURN_STRUCTURE_SQL,
    )

    return _TURN_STRUCTURE_SQL


# ---------------------------------------------------------------------------
# Streaming watermark-detection twin — the 28th twin (r10, wave 52): the
# per-source POOLED Kirchenbauer greenlist statistic as a real keyed-
# custom-state job. Documents arrive in ascending doc_id-band
# micro-batches; each source's state carries THREE longs (docs, scored
# transitions, green transitions), every batch emits the cumulative row,
# and the final emission's z = (4g - T)/sqrt(3T) must equal the one-shot
# batch GROUP BY bit-for-bit — the detection statistic is mergeable, so
# a stream of arriving model output can be screened incrementally. The
# per-doc counters are the SHARED WM_GREEN_EXPR / _wm_doc_stats pieces
# of `corpus_ops.synthetic_watermark_detect` (harness staging computes
# them batch-side; the streamed half is exactly the part that needs
# cross-batch memory — the pooled counters). NULL-source docs are out of
# scope on both engines (a keyed counter needs a key).
# ---------------------------------------------------------------------------
WM_TWIN_BATCHES = 4


def streaming_watermark_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import tokens
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        WM_Z_EXPR,
        WM_Z_KEEP_MICRO,
        _wm_doc_stats,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import (
        watermark_pooled_counters,
    )

    with _twin_confs(spark):
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(
                F.col("text").isNotNull()
                & F.col("source").isNotNull()
                & F.col("doc_id").isNotNull()
            )
            .withColumn("tok_arr", tokens("text"))
        )
        stats = _wm_doc_stats(docs, "source", "doc_id")
        stage = _MicroBatchStage("rtdw-wmtwin-")
        stage.stage_by(
            stats.withColumn("slice", _range_band("doc_id", WM_TWIN_BATCHES)),
            "slice",
        )
        sunk = stage.run_to_parquet(
            spark,
            watermark_pooled_counters(
                stage.read_stream(
                    spark,
                    "source string, scored bigint, green bigint",
                )
            ),
        )
        fin = (
            sunk.groupBy("source")
            .agg(
                F.max_by(
                    F.struct("n_docs", "scored", "green"), "n_docs"
                ).alias("fin")
            )
            .select(
                "source",
                F.col("fin.n_docs").alias("n_docs"),
                F.col("fin.scored").alias("scored"),
                F.col("fin.green").alias("green"),
            )
        )
        return fin.withColumn("z_micro", F.expr(WM_Z_EXPR)).withColumn(
            "verdict",
            F.when(F.col("z_micro") >= WM_Z_KEEP_MICRO, "watermarked").otherwise(
                "clean"
            ),
        )


def _watermark_twin_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.corpus_ops import (
        WM_Z_KEEP_MICRO,
        _WM_DOC_CTES,
        _WM_Z_SQL,
    )

    return f"""
WITH {_WM_DOC_CTES},
p AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(scored) AS BIGINT) AS scored,
         CAST(sum(green) AS BIGINT) AS green
  FROM g WHERE source IS NOT NULL GROUP BY 1
),
z AS (
  SELECT source, n_docs, scored, green, {_WM_Z_SQL} AS z_micro FROM p
)
SELECT source, n_docs, scored, green, z_micro,
       CASE WHEN z_micro >= {WM_Z_KEEP_MICRO} THEN 'watermarked'
            ELSE 'clean' END AS verdict
FROM z
"""


QUERIES = {
    "streaming_watermark_twin": streaming_watermark_twin,
    "streaming_sft_gate_twin": streaming_sft_gate_twin,
    "streaming_episode_return_twin": streaming_episode_return_twin,
    "streaming_chunk_owner_twin": streaming_chunk_owner_twin,
    "streaming_vocab_growth_twin": streaming_vocab_growth_twin,
    "streaming_frontier_twin": streaming_frontier_twin,
    "streaming_domain_cap_twin": streaming_domain_cap_twin,
    "streaming_cdc_apply_twin": streaming_cdc_apply_twin,
    "streaming_hll_merge_twin": streaming_hll_merge_twin,
    "streaming_ivm_join_twin": streaming_ivm_join_twin,
    "streaming_update_mode_twin": streaming_update_mode_twin,
    "streaming_complete_mode_twin": streaming_complete_mode_twin,
    "streaming_pv_hourly": streaming_pv_hourly,
    "streaming_topk_hitters": streaming_topk_hitters,
    "streaming_uv_daily": streaming_uv_daily,
    "streaming_session_windows": streaming_session_windows,
    "streaming_join_view_purchase": streaming_join_view_purchase,
    "streaming_abandoned_views": streaming_abandoned_views,
    "streaming_incremental_rollup": streaming_incremental_rollup,
    "streaming_ewma_daily": streaming_ewma_daily,
    "streaming_cusum_daily": streaming_cusum_daily,
    "streaming_reconcile_full_outer": streaming_reconcile_full_outer,
    "streaming_dedup_incoming": streaming_dedup_incoming,
    "streaming_kmv_daily": streaming_kmv_daily,
    "streaming_funnel_3way": streaming_funnel_3way,
    "streaming_late_drop_twin": streaming_late_drop_twin,
    "streaming_dedup_within_watermark": streaming_dedup_within_watermark,
    "streaming_config_swap_twin": streaming_config_swap_twin,
}

ORACLE = {
    "streaming_watermark_twin": _watermark_twin_sql(),
    "streaming_sft_gate_twin": _sft_gate_stream_sql(),
    "streaming_episode_return_twin": _episode_stream_sql(),
    "streaming_chunk_owner_twin": _chunk_owner_stream_sql(),
    "streaming_vocab_growth_twin": _vocab_growth_stream_sql(),
    "streaming_frontier_twin": _frontier_stream_sql(),
    "streaming_domain_cap_twin": _domcap_stream_sql(),
    "streaming_cdc_apply_twin": _CDC_APPLY_SQL,
    "streaming_hll_merge_twin": _hll_stream_sql(),
    "streaming_ivm_join_twin": _IVM_STREAM_SQL,
    "streaming_update_mode_twin": _update_twin_sql(),
    "streaming_complete_mode_twin": _complete_twin_sql(),
    "streaming_pv_hourly": _PV_SQL,
    "streaming_topk_hitters": _TOPK_STREAM_SQL,
    "streaming_uv_daily": _UV_SQL,
    "streaming_session_windows": _session_stream_sql(),
    "streaming_join_view_purchase": _JOIN_STREAM_SQL,
    "streaming_abandoned_views": _ABANDON_STREAM_SQL,
    "streaming_incremental_rollup": _incr_stream_sql(),
    "streaming_ewma_daily": _ewma_stream_sql(),
    "streaming_cusum_daily": _cusum_stream_sql(),
    "streaming_reconcile_full_outer": _FULL_OUTER_STREAM_SQL,
    "streaming_dedup_incoming": _incoming_stream_sql(),
    "streaming_kmv_daily": _kmv_stream_sql(),
    "streaming_funnel_3way": _FUNNEL_3WAY_SQL,
    "streaming_late_drop_twin": _LATE_TWIN_SQL,
    "streaming_dedup_within_watermark": _ddw_sql(),
    "streaming_config_swap_twin": _cfg_swap_sql(),
}
