"""``log_realtime``: the open-loop ODS -> DWD -> DWS page-log path.

Three concurrent micro-batch queries read one file-stream source (the
stand-in for the page-log Kafka topic), as the reference's separate apps do:

- DWD: ``stream_jsonl`` -> ``visitor_repair`` -> foreachBatch calling
  ``sinks.append_parquet``; the dead letters of the same parse are unioned
  in and land in the same write, flagged ``dead``;
- DWS PV: ``dws_pv_window_stream`` (10 s tumbling window, 2 s watermark);
- DWS UV: ``dws_uv_window_stream`` with the same window and watermark.

The generator first drops a restart backlog, then publishes one file per
tick on a wall-clock schedule that does not slow when Spark slows.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

import checks
import gen
from common import (
    BENCH_DIR,
    batch_end,
    batches,
    iso_ms,
    median,
    pct,
    streaming_layer_metrics,
    trace_batches,
)
from realtimedatawarehouse_self_spark.sources import files
from realtimedatawarehouse_self_spark.streaming import sinks, stateful
from realtimedatawarehouse_self_spark.streaming.pipelines import (
    dws_pv_window_stream,
    dws_uv_window_stream,
)

# Every micro-batch of the three queries costs about 1.7-2.3 s on 4 cores
# whatever its size (measured from 50 to 750 events per file; the DWS legs
# add a no-data batch after each watermark move). A file every 5 s leaves
# the queries idle about a quarter of the time, so latency reflects
# per-batch cost rather than a queue; ticks up to 2.5 s left them busy
# 93-99 % of the time (see NOTES.md). 150 events/s is a seventh to a third
# of the catch-up rate, with the host's speed, and fills all 64 page types
# in every 10 s window.
RATE = 150
TICK_S = 5.0
# restart backlog: 30 s of events (4 500), 6 files
BACKLOG_S = 30.0
# The measured 10 s window [0 s, 10 s) closes on live events once an event
# at 12 s or later (2 s watermark) is read: at least three 5 s ticks.
MIN_LIVE_TICKS = 3
WINDOW = "10 seconds"
WATERMARK = "2 seconds"
# The DWD query unions the repaired events with the dead letters of the same
# parse, so its plan scans every source file once per branch and the
# progress counts each line twice.
SCANS = {"dwd": 2, "pv": 1, "uv": 1}
MIN_RESULT_ROWS = 100
CATCHUP_TIMEOUT_S = 60.0
DONE_TIMEOUT_S = 20.0


def _live_s(ctx) -> float:
    """The measured seconds, rounded up to whole ticks."""
    return TICK_S * max(MIN_LIVE_TICKS, math.ceil(ctx.seconds / TICK_S))


def run(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.join(BENCH_DIR, "gen.py"),
            "log",
            "--seed", str(ctx.seed),
            "--out", work,
            "--rate", str(RATE),
            "--backlog-s", str(BACKLOG_S),
            "--live-s", str(_live_s(ctx)),
            "--tick-s", str(TICK_S),
        ],
        stdout=subprocess.DEVNULL,
    )
    try:
        manifest = os.path.join(work, "manifest.json")
        if not _await({}, lambda: os.path.exists(manifest), 120, proc):
            raise TimeoutError(manifest)
        with open(manifest) as fh:
            man = json.load(fh)
        return _run_queries(ctx, proc, man)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def _run_queries(ctx, proc, man) -> dict:
    spark, work = ctx.spark, ctx.work
    live_s = _live_s(ctx)
    src = os.path.join(work, "src")
    out = {k: os.path.join(work, k) for k in ("dwd", "pv", "uv")}
    sink_calls: list[tuple] = []  # (query, batch_id, start, end)

    clean, dead = files.stream_jsonl(spark, src, gen.LOG_SCHEMA)
    events = clean.select(
        F.timestamp_millis("ts").alias("ts"), "event_type", "value", "user_id"
    )
    repaired = stateful.visitor_repair(
        clean.select(
            "mid",
            F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd").alias("dt"),
            "is_new",
            F.to_json(
                F.struct("event_id", "ts", "user_id", "event_type", "value")
            ).alias("payload"),
        )
    )
    dwd = repaired.withColumn("dead", F.lit(False)).unionByName(
        dead.select(
            F.lit(None).cast("string").alias("mid"),
            F.lit(None).cast("string").alias("dt"),
            F.lit(None).cast("string").alias("is_new"),
            F.col("raw").alias("payload"),
            F.lit(True).alias("dead"),
        )
    )

    def dwd_batch(df, batch_id):
        t = time.time()
        sinks.append_parquet(df.withColumn("batch_id", F.lit(batch_id)), out["dwd"])
        sink_calls.append(("dwd", batch_id, t, time.time()))

    def dws_batch(name):
        def fn(df, batch_id):
            t = time.time()
            sinks.append_parquet(df.withColumn("batch_id", F.lit(batch_id)), out[name])
            sink_calls.append((name, batch_id, t, time.time()))

        return fn

    plan = {
        "dwd": (dwd, dwd_batch),
        "pv": (dws_pv_window_stream(events, WINDOW, WATERMARK), dws_batch("pv")),
        "uv": (dws_uv_window_stream(events, WINDOW, WATERMARK), dws_batch("uv")),
    }
    t_q = time.time()
    queries = {
        name: df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", os.path.join(work, "cp", name))
        .queryName(f"log_{name}")
        .start()
        for name, (df, fn) in plan.items()
    }
    try:
        # catch-up first: the live schedule starts once every query has
        # committed the restart backlog, so every live window is measured
        # against a drained pipeline
        _await(queries, lambda: all(
            _lines_read(n, q) >= man["backlog_lines"] for n, q in queries.items()
        ), CATCHUP_TIMEOUT_S)
        t0 = time.time()
        with open(os.path.join(work, "go.tmp"), "w") as fh:
            fh.write(repr(t0))
        os.replace(os.path.join(work, "go.tmp"), os.path.join(work, "go"))
        finished = _await(
            queries, lambda: proc.poll() is not None and _all_done(queries, man),
            live_s + DONE_TIMEOUT_S, proc,
        )
        t_end = time.time()
        progress = {n: batches(q) for n, q in queries.items()}
        ctx.measure_heap()
    finally:
        for q in queries.values():
            q.stop()
    with open(os.path.join(work, "gen_done.json")) as fh:
        gen_done = json.load(fh)
    return _evaluate(ctx, man, gen_done, progress, sink_calls, t_q, t0, t_end, finished, out, src)


def _flush_wm(man) -> float:
    return (man["flush_ts_ms"] / 1000.0) - float(WATERMARK.split()[0])


def _lines_read(name, query) -> int:
    return sum(p["numInputRows"] for p in batches(query)) // SCANS[name]


def _await(queries, cond, timeout: float, proc=None) -> bool:
    """Poll until ``cond()``; False on timeout. A failed query or generator
    raises."""
    deadline = time.time() + timeout
    while not cond():
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"{q.name} failed: {q.exception()}")
        if proc is not None and proc.poll() not in (None, 0):
            raise RuntimeError(f"generator exited with {proc.returncode}")
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


def _all_done(queries, man) -> bool:
    lp = {n: q.lastProgress for n, q in queries.items()}
    if any(p is None for p in lp.values()):
        return False
    if _lines_read("dwd", queries["dwd"]) < man["lines"]:
        return False
    for n in ("pv", "uv"):
        wm = lp[n].get("eventTime", {}).get("watermark")
        if wm is None or iso_ms(wm) < _flush_wm(man):
            return False
    return True


def _evaluate(ctx, man, gen_done, progress, sink_calls, t_q, t0, t_end, finished, out, src):
    spark = ctx.spark
    anchor = man["anchor_ms"] / 1000.0
    sched = lambda ts_ms: t0 + ts_ms / 1000.0 - anchor  # noqa: E731
    ends = {n: {p["batchId"]: batch_end(p) for p in ps} for n, ps in progress.items()}

    def covering(name, lines):
        """(batchId, commit time) of the first batch by which the query has
        read ``lines`` lines."""
        seen = 0
        for p in progress[name]:
            seen += p["numInputRows"] // SCANS[name]
            if seen >= lines:
                return p["batchId"], batch_end(p)
        return float("inf"), float("inf")

    drains = {n: covering(n, man["backlog_lines"]) for n in progress}
    catchup_s = max(d[1] for d in drains.values()) - t_q

    # ---- expected results from the published input (batch twins) ----
    clean, _ = files.read_jsonl(spark, src, gen.LOG_SCHEMA)
    clean = clean.filter(F.col("event_type") != gen.FLUSH_TYPE).persist()
    ev = clean.select(
        F.timestamp_millis("ts").alias("ts"), "event_type", "value", "user_id"
    )
    exp_pv = dws_pv_window_stream(ev, WINDOW, WATERMARK).collect()
    exp_uv = {
        (r["dt"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    last_ts = {
        (r["stt"], r["event_type"]): r["m"]
        for r in clean.groupBy(
            F.date_format(
                F.window(F.timestamp_millis("ts"), WINDOW).start,
                "yyyy-MM-dd HH:mm:ss",
            ).alias("stt"),
            "event_type",
        )
        .agg(F.max("ts").alias("m"))
        .collect()
    }

    failures = {}
    pv_rows = _read(spark, out["pv"])
    uv_rows = _read(spark, out["uv"])
    got_pv = [r for r in pv_rows if r["event_type"] != gen.FLUSH_TYPE]
    got_uv = [r for r in uv_rows if r["event_type"] != gen.FLUSH_TYPE]
    failures["pv_rows"] = checks.row_diff(exp_pv, [tuple(r)[:-1] for r in got_pv])
    failures["uv_totals"] = checks.total_diff(
        exp_uv, got_uv, lambda r: (r["stt"][:10], r["event_type"]), lambda r: r["uv_ct"]
    )

    # ---- DWS result latency: windows opened after the backlog drained and
    # closable by live events alone (the watermark of the last live event
    # passes their end), whether or not the flush row shared their batch
    live_max_ms = max(last_ts.values())
    wm_ms = float(WATERMARK.split()[0]) * 1000
    window_ms = float(WINDOW.split()[0]) * 1000
    lat = []
    for name, rows in (("pv", got_pv), ("uv", got_uv)):
        drained_at = drains[name][1]
        for r in rows:
            start_ms = _ts_ms(r["stt"])
            if sched(start_ms) < drained_at or start_ms + window_ms + wm_ms > live_max_ms:
                continue
            lat.append(ends[name][r["batch_id"]] - sched(last_ts[(r["stt"], r["event_type"])]))
    failures["result_rows_short"] = max(0, MIN_RESULT_ROWS - len(lat))

    # ---- DWD: every clean event exactly once; is_new "1" on <= 1 date/mid
    dwd_all = spark.read.parquet(out["dwd"])
    dwd = dwd_all.filter(~F.col("dead") & (F.col("mid") != "mid_flush"))
    dwd_ev = dwd.select(
        F.get_json_object("payload", "$.event_id").cast("bigint").alias("event_id"),
        F.get_json_object("payload", "$.ts").cast("bigint").alias("ts"),
        "batch_id",
    ).toPandas()
    # the generator numbers its events 0..n-1; malformed lines are extra
    failures["dwd_missing"], failures["dwd_duplicate"] = checks.exactly_once(
        range(man["events"]), dwd_ev["event_id"].tolist()
    )
    failures["is_new_repeat"] = (
        dwd.filter(F.col("is_new") == "1")
        .groupBy("mid")
        .agg(F.countDistinct("dt").alias("d"))
        .filter(F.col("d") > 1)
        .count()
    )
    n_dead = dwd_all.filter(F.col("dead")).count()
    failures["dead_letter_mismatch"] = abs(n_dead - man["malformed"])
    layers = streaming_layer_metrics(progress, (t_q, t_end))
    failures["late_rows_dropped"] = layers["stateful.late_rows_dropped"]
    failures["not_finished"] = 0 if finished else 1

    dwd_end = ends["dwd"]
    dwd_drained = drains["dwd"][1]
    created = t0 + dwd_ev["ts"] / 1000.0 - anchor
    commit = dwd_ev["batch_id"].map(dwd_end)
    live = created >= dwd_drained
    dwd_lat = (commit[live] - created[live]).tolist()

    clean.unpersist()
    attempted = man["events"] + man["malformed"]
    failed = int(sum(failures.values()))
    dwd_reads = sum(p["numInputRows"] for p in progress["dwd"]) // SCANS["dwd"]
    layers.update(
        {
            "sources.dead_letter_share": n_dead / max(dwd_reads, 1),
            "pipelines.dwd_latency_p50_s": median(dwd_lat),
            "pipelines.dwd_latency_p99_s": pct(dwd_lat, 99),
            "sinks.append_ms_p50": median(
                [(e - s) * 1000 for q, _, s, e in sink_calls if q == "dwd"]
            ),
            "gen.events": man["events"],
            "gen.lag_s_max": gen_done["lag_s_max"],
        }
    )
    if ctx.tracer.enabled:
        for name, ps in progress.items():
            add_ids = trace_batches(ctx.tracer, name, ps)
            for q, bid, s, e in sink_calls:
                if q == name and bid in add_ids:
                    sid, root = add_ids[bid]
                    ctx.tracer.add("sinks.append_parquet", s, e, sid, root)
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "throughput_per_s": man["backlog_events"] / catchup_s,
        "latency": lat,
        "layers": layers,
        "info": {
            "result_rows": len(lat),
            "dwd_latency_samples": len(dwd_lat),
            "catchup_s": catchup_s,
            "drain_after_query_start_s": {n: d[1] - t_q for n, d in drains.items()},
            "live_s": t_end - t0,
            "trigger_ms_p50": {
                n: median([p["durationMs"]["triggerExecution"] for p in ps[1:]])
                for n, ps in progress.items()
            },
            "batches": {n: len(ps) for n, ps in progress.items()},
            "idle_share": layers["pipelines.idle_share"],
            "eval_s": time.time() - t_end,
        },
    }


def _ts_ms(s: str) -> float:
    """'yyyy-MM-dd HH:mm:ss' (UTC) -> epoch ms."""
    return iso_ms(s.replace(" ", "T") + "Z") * 1000.0


def _read(spark, path):
    if not os.path.isdir(path):
        return []
    return spark.read.parquet(path).collect()
