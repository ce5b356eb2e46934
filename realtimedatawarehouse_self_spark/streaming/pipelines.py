"""Structured Streaming pipelines mirroring the reference's app topologies
(SURVEY.md §3). Sources are pluggable streaming DataFrames: file and rate
here; on a cluster, Spark's built-in `readStream.format("kafka")` source
(no wrapper, and no kafka connector jar in this container). Tests feed file
streams and assert each pipeline's output equals its batch twin in
plans/core.py on the same fixture.

Topology mapping:
- BaseLogApp (§3.1)         -> `sources/files.py::stream_jsonl` (parse +
                               dead letters) + `visitor_repair` +
                               `run_baselog_split` (foreachBatch fan-out)
- DwdTradeOrderDetail (§3.2)-> `order_detail_join_stream` (watermarked
                               stream-stream joins + broadcast lookup)
- DimApp (§3.3)             -> `run_dim_routing` (config re-read per batch +
                               broadcast-join routing + keyed upsert)
- Dws* windows (§3.1/3.2)   -> `dws_pv_window_stream` / `dws_uv_window_stream`
                               (watermark + tumbling window + stamping)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtimedatawarehouse_self_spark.functions.exprs import (
    cents_amount,
    money_cents,
    window_bounds,
)
from realtimedatawarehouse_self_spark.streaming import sinks


# ---------------------------------------------------------------------------
# W1-W3 + A1/A8: watermarked tumbling-window aggregation.
# ---------------------------------------------------------------------------
def dws_pv_window_stream(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 seconds",  # W1 parity: 2 s bounded out-of-orderness
) -> DataFrame:
    """pv/dur leg of Dws02 (stateless rows -> stateful windowed agg)."""
    return (
        events.withColumn("v", money_cents("value"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            cents_amount(F.sum("v")).alias("dur_sum"),
        )
        .select(*window_bounds("w"), "event_type", "pv_ct", "dur_sum")
    )


def dws_uv_window_stream(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 seconds",
) -> DataFrame:
    """uv leg of Dws02: daily dedup (T2) chained into the window agg.

    Spark-native chain: dropDuplicates on (user, type, day) — a supported
    multi-stateful pipeline (dedup -> agg). The day column scopes the
    dedup to one day, as the reference's 1-day state TTL does, but it does
    NOT bound the state: the dedup keys exclude the watermarked `ts`, so
    Spark never evicts a dedup entry and the state grows with every
    (user, type, day) ever seen. Bounding it needs the watermark on a
    column inside the dedup keys, while the window needs `ts` as its
    event time.
    """
    deduped = (
        events.withColumn("dt", F.to_date("ts"))
        .withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type", "dt"])
    )
    return (
        deduped.groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("uv_ct"))
        .select(*window_bounds("w"), "event_type", "uv_ct")
    )


# ---------------------------------------------------------------------------
# §3.1 BaseLogApp: one pass fans the log stream into branch sinks (P13) with
# dead-letter (P1). foreachBatch persists once, writes N times.
# ---------------------------------------------------------------------------
BRANCHES = ("error", "signup", "view", "click", "purchase")


def run_baselog_split(
    events: DataFrame, out_dir: str, checkpoint: str
) -> "StreamingQuery":
    def process(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for br in BRANCHES:
                rows = batch.filter(F.col("event_type") == br)
                sinks.append_parquet(rows, os.path.join(out_dir, f"dwd_{br}"))
            other = batch.filter(~F.col("event_type").isin(*BRANCHES))
            if other.limit(1).count():
                sinks.append_parquet(other, os.path.join(out_dir, "dead_letter"))
        finally:
            batch.unpersist()

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# §3.3 DimApp: config-driven routing per micro-batch. The config table is
# re-read every batch (T7 CRUD becomes implicit; no broadcast bootstrap
# race) and broadcast-joined against the batch (J4), pruned columns are
# nulled (P9), and each rule's rows are MERGEd into its dim table (K5).
# ---------------------------------------------------------------------------
def run_dim_routing(
    spark: SparkSession,
    events: DataFrame,
    config_path: str,
    out_dir: str,
    checkpoint: str,
    key_col: str = "event_id",
) -> "StreamingQuery":
    """Per-rule auto-DDL parity (DIM_MyBroadcastFunction.java:138-200
    checkTable): optional config columns `sink_pk` (CSV; the per-rule MERGE
    key, default `key_col`) and `sink_extend` (table-options string — the
    Phoenix DDL suffix; recorded verbatim in a `_sink_meta.json` sidecar on
    first create, parquet having no DDL surface to splice it into)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        config = spark.read.parquet(config_path)
        for opt, default in (("sink_pk", key_col), ("sink_extend", None)):
            if opt not in config.columns:
                config = config.withColumn(opt, F.lit(default))
        # trim CSV entries so 'user_id, value' prunes and merges on the
        # same column names the Python merge-key list strips to
        config = config.withColumn(
            "cols", F.expr("transform(split(sink_columns, ','), c -> trim(c))")
        ).withColumn(
            "pk_cols",
            F.expr(
                f"transform(split(coalesce(sink_pk, '{key_col}'), ','),"
                " c -> trim(c))"
            ),
        )
        routed = batch.join(
            F.broadcast(config), batch.event_type == config.source_type
        )
        data_cols = [c for c in batch.columns]
        # keep: configured sink columns + the rule's own primary key
        pruned = routed.select(
            "sink_table",
            *[
                F.when(
                    F.array_contains("cols", c)
                    | F.array_contains("pk_cols", c)
                    | F.lit(c == key_col),
                    F.col(c),
                ).alias(c)
                for c in data_cols
            ],
        )
        rules = config.select(
            "sink_table", "sink_pk", "sink_extend"
        ).distinct().collect()
        # Two source types MAY share one sink table, but only with the SAME
        # merge key + DDL suffix: with conflicting sink_pk the batch's merge
        # result would depend on rule iteration order (ADVICE r2). Refuse
        # deterministically instead of last-rule-wins.
        by_table: dict = {}
        for r in rules:
            prev = by_table.setdefault(r["sink_table"], r)
            if (prev["sink_pk"], prev["sink_extend"]) != (
                r["sink_pk"],
                r["sink_extend"],
            ):
                raise ValueError(
                    f"conflicting routing rules for sink table "
                    f"{r['sink_table']!r}: sink_pk/sink_extend "
                    f"{(prev['sink_pk'], prev['sink_extend'])} vs "
                    f"{(r['sink_pk'], r['sink_extend'])}"
                )
        rules = [by_table[t] for t in sorted(by_table)]
        pruned.persist()
        try:
            for r in rules:
                sink_table = r["sink_table"]
                pk = [
                    c.strip()
                    for c in (r["sink_pk"] or key_col).split(",")
                    if c.strip()
                ] or [key_col]
                rows = pruned.filter(F.col("sink_table") == sink_table).drop(
                    "sink_table"
                )
                table_path = os.path.join(out_dir, sink_table)
                created = not os.path.exists(table_path)
                sinks.upsert_parquet(spark, rows, table_path, pk)
                # sidecar sits BESIDE the table dir: the upsert swap
                # replaces the dir wholesale on every merge
                if created and os.path.exists(table_path):
                    meta = {"sink_pk": pk, "sink_extend": r["sink_extend"]}
                    with open(table_path + "._sink_meta.json", "w") as f:
                        json.dump(meta, f)
        finally:
            pruned.unpersist()

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# §3.2 DwdTradeOrderDetail: stream-stream joins with watermarks and an
# event-time bound (SURVEY.md §7 known-hard #1), plus broadcast lookup (J3).
# ---------------------------------------------------------------------------
def order_detail_join_stream(
    order_detail: DataFrame,
    order_info: DataFrame,
    dic: DataFrame,
    watermark: str = "5 seconds",
    join_window: str = "10 seconds",
) -> DataFrame:
    """od INNER JOIN oi (J1) with event-time bound + broadcast dic (J3).

    The reference ran the join with unbounded state (DwdTradeOrderDetail
    .java:161-169); Spark requires both sides watermarked and a time-range
    condition so state is evicted — the bound is the explicit contract the
    reference left implicit in state-retention config.
    """
    od = order_detail.withWatermark("create_time", watermark).alias("od")
    oi = order_info.withWatermark("create_time", watermark).alias("oi")
    dic = dic.alias("dic")
    joined = od.join(
        oi,
        F.expr(
            f"""od.order_id = oi.id
            AND oi.create_time BETWEEN od.create_time - INTERVAL {join_window}
                                   AND od.create_time + INTERVAL {join_window}"""
        ),
    )
    return joined.join(
        F.broadcast(dic), F.col("od.source_type") == F.col("dic.dic_code"), "left"
    ).select(
        F.col("od.id").alias("id"),
        F.col("od.order_id").alias("order_id"),
        F.col("od.sku_id").alias("sku_id"),
        F.col("oi.user_id").alias("user_id"),
        F.col("dic.dic_name").alias("source_type_name"),
        F.col("od.create_time").alias("create_time"),
    )


def order_detail_left_join_stream(
    order_detail: DataFrame,
    activity: DataFrame,
    watermark: str = "5 seconds",
    join_window: str = "10 seconds",
) -> DataFrame:
    """od LEFT OUTER JOIN order_activity (J2) — streaming left join.

    The reference's left joins emitted retractions when the right side
    arrived late, leaking tombstones downstream (DwdTradeOrderDetail
    .java:164-167 -> upsert-Kafka K3 -> null checks + T6 dedup). Spark's
    semantics are strictly cleaner: the null-extended row is emitted ONCE,
    when the watermark proves no match can still arrive — no retractions,
    no downstream dedup. Both sides watermarked; the event-time bound
    evicts join state (SURVEY.md §7 known-hard #1).
    """
    od = order_detail.withWatermark("create_time", watermark).alias("od")
    act = activity.withWatermark("act_time", watermark).alias("act")
    return od.join(
        act,
        F.expr(
            f"""od.id = act.order_detail_id
            AND act.act_time BETWEEN od.create_time - INTERVAL {join_window}
                                 AND od.create_time + INTERVAL {join_window}"""
        ),
        "leftOuter",
    ).select(
        F.col("od.id").alias("id"),
        F.col("od.order_id").alias("order_id"),
        F.col("act.activity_id").alias("activity_id"),
        F.col("od.create_time").alias("create_time"),
    )
