"""``dim_cdc``: a Maxwell changelog backlog upserted into three dim tables.

The stream runs with ``availableNow`` and a fixed ``maxFilesPerTrigger``;
each micro-batch follows the repository's CDC-apply recipe (the one
``plans.streaming_twins.streaming_cdc_apply_twin`` uses): ``parse_maxwell``
-> ``table_rows`` -> ``upsert_parquet(order_col="ts", delete_col=...,
meta={"batch_id": ...})`` per table. This is the write path: every merge
rewrites its whole table, so its cost grows with the table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from common import BENCH_DIR, batch_end, batches, median, streaming_layer_metrics, trace_batches
from realtimedatawarehouse_self_spark.sources.envelopes import (
    changelog_latest,
    parse_maxwell,
    table_rows,
)
from realtimedatawarehouse_self_spark.streaming.sinks import (
    read_table_meta,
    upsert_parquet,
)

APPLY_TYPES = ("insert", "update", "delete", "bootstrap-insert")
# Post-bootstrap changes per measured second, sized on 4 cores so that the
# stream takes about the measured seconds (see NOTES.md).
CHANGES_PER_S = 700
FILE_CHANGES = 6000
MAX_FILES_PER_TRIGGER = 1
STREAM_TIMEOUT_S = 90.0


def _table_rows_on_disk(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def run(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    gen_cmd = [
        sys.executable,
        os.path.join(BENCH_DIR, "gen.py"),
        "cdc",
        "--seed", str(ctx.seed),
        "--out", work,
        "--changes", str(CHANGES_PER_S * ctx.seconds),
        "--file-changes", str(FILE_CHANGES),
    ]
    subprocess.run(gen_cmd, check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(os.path.join(work, "manifest.json")) as fh:
        man = json.load(fh)
    src = os.path.join(work, "src")
    tables = {t: os.path.join(work, "dim", t) for t in man["tables"]}
    merges: list[tuple] = []  # (table, batch_id, start, end, rows_written)

    def apply(batch_df, batch_id):
        env = parse_maxwell(batch_df).filter(F.col("type").isin(*APPLY_TYPES)).persist()
        try:
            for t, cols in man["tables"].items():
                seen = read_table_meta(tables[t])
                if seen is not None and batch_id <= seen["batch_id"]:
                    continue  # replayed batch: its merge already committed
                rows = table_rows(env, gen.CDC_DB, t, cols).select(
                    *cols, "ts", (F.col("type") == "delete").alias("is_delete")
                )
                s = time.time()
                upsert_parquet(
                    batch_df.sparkSession,
                    rows,
                    tables[t],
                    keys=["id"],
                    order_col="ts",
                    delete_col="is_delete",
                    meta={"batch_id": batch_id},
                )
                e = time.time()
                merges.append((t, batch_id, s, e, _table_rows_on_disk(tables[t])))
        finally:
            env.unpersist()

    t_start = time.time()
    q = (
        spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .text(src)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .queryName("dim_cdc")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(STREAM_TIMEOUT_S)
        if q.exception() is not None:
            raise RuntimeError(f"dim_cdc failed: {q.exception()}")
    finally:
        q.stop()
    t_end = time.time()
    progress = batches(q)
    ctx.measure_heap()

    # ---- checks: each table equals changelog_latest over its changelog ----
    full = parse_maxwell(spark.read.text(src)).persist()
    failures = {}
    for t, cols in man["tables"].items():
        expected = changelog_latest(
            table_rows(full, gen.CDC_DB, t, cols).filter(
                F.col("type").isin(*APPLY_TYPES)
            ),
            ["id"],
        ).select(*cols, "ts")
        got = (
            spark.read.parquet(tables[t]).select(*cols, "ts").collect()
            if os.path.isdir(tables[t])
            else []
        )
        failures[f"{t}_rows"] = checks.row_diff(expected.collect(), got)
    n_lines = full.count()
    unparsed = full.filter(F.col("database").isNull()).count()
    full.unpersist()
    failures["not_finished"] = 0 if finished else 1

    # per change: wait from stream start to the commit of the batch that
    # applied it (the files map one-to-one onto batches, in order)
    lat = []
    for p, n in zip(progress, man["file_changes"]):
        lat.extend([batch_end(p) - t_start] * n)
    # every batch merges the three tables in the same order, so the first
    # and the last five merges hold the same mix of tables
    merge_ms = [(e - s) * 1000 for _, _, s, e, _ in merges]
    layers = streaming_layer_metrics({"dim_cdc": progress}, (t_start, t_end))
    layers.update(
        {
            "sources.dead_letter_share": unparsed / max(n_lines, 1),
            "sinks.upsert_ms_p50": median(merge_ms),
            "sinks.upsert_ms_growth": (
                median(merge_ms[-5:]) / median(merge_ms[:5]) if len(merge_ms) >= 10 else 0.0
            ),
            "sinks.rows_rewritten_per_change": sum(m[4] for m in merges) / man["changes"],
            "sinks.table_rows_end": sum(
                _table_rows_on_disk(p) for p in tables.values() if os.path.isdir(p)
            ),
            "gen.events": man["changes"],
        }
    )
    if ctx.tracer.enabled:
        add_ids = trace_batches(ctx.tracer, "dim_cdc", progress)
        for _, bid, s, e, _ in merges:
            if bid in add_ids:
                sid, root = add_ids[bid]
                ctx.tracer.add("sinks.upsert_parquet", s, e, sid, root)
    return {
        "attempted": man["changes"],
        "failed": int(sum(failures.values())),
        "failures": failures,
        "throughput_per_s": man["changes"] / (t_end - t_start),
        "latency": lat,
        "layers": layers,
        "info": {
            "stream_s": t_end - t_start,
            "batches": len(progress),
            "merges": len(merges),
            "merge_ms": merge_ms,
        },
    }
