#!/usr/bin/env python3
"""Warehouse benchmark: one command runs a named workload with a seed.

    python3 perfbench/run.py --workload log_realtime --seed 1 --seconds 20 --trace 0

Workloads (see NOTES.md for why each exists and how it was sized):

- ``log_realtime``: open-loop page log through DWD and the DWS PV/UV windows;
- ``dim_cdc``: a Maxwell changelog backlog upserted into three dim tables;
- ``dws_serving``: a closed loop of one client over 16 serving queries.

The engine runs on ``local[<cores>]`` with every available core. Outputs are
checked on every run. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones, and
the traced run also writes its spans, per-layer self times and the tracing
overhead to ``.perfbench_work/traces/``. All files the run makes stay under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import (  # noqa: E402
    NCPU,
    ROOT,
    SERVING_QUERIES,
    WORK,
    Tracer,
    WorkerRssSampler,
    descendants,
    jvm_live_heap_mb,
    metric,
    pct,
    start_session,
)

sys.path.insert(0, ROOT)
# the engine under test: outside a checkout of the repository this import
# fails and the benchmark exits non-zero without a result
import realtimedatawarehouse_self_spark  # noqa: E402,F401

WORKLOADS = ("log_realtime", "dim_cdc", "dws_serving")

# name -> (unit, better); the order is the order printed
END_TO_END = {
    "setup_s": ("s", "lower"),
    "mem_mb": ("MB", "lower"),
    "ok_share": ("ratio", "higher"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
}
PER_LAYER = (
    ("sources.input_rows", "count"),
    ("sources.dead_letter_share", "ratio"),
    ("sources.offset_ms_p50", "ms"),
    ("sources.scan_bytes", "bytes"),
    ("pipelines.batches", "count"),
    ("pipelines.trigger_ms_p50", "ms"),
    ("pipelines.trigger_ms_p99", "ms"),
    ("pipelines.planning_ms_p50", "ms"),
    ("pipelines.add_batch_ms_p50", "ms"),
    ("pipelines.checkpoint_ms_p50", "ms"),
    ("pipelines.idle_share", "ratio"),
    ("pipelines.dwd_latency_p50_s", "s"),
    ("pipelines.dwd_latency_p99_s", "s"),
    ("stateful.rows_total", "count"),
    ("stateful.memory_bytes", "bytes"),
    ("stateful.commit_ms_p50", "ms"),
    ("stateful.rows_updated_p50", "count"),
    ("stateful.late_rows_dropped", "count"),
    ("sinks.append_ms_p50", "ms"),
    ("sinks.upsert_ms_p50", "ms"),
    ("sinks.upsert_ms_growth", "ratio"),
    ("sinks.rows_rewritten_per_change", "ratio"),
    ("sinks.table_rows_end", "count"),
    ("plans.build_ms_p50", "ms"),
    *((f"plans.{q}.execute_s", "s") for q in SERVING_QUERIES),
    ("plans.shuffle_bytes", "bytes"),
    ("plans.spill_bytes", "bytes"),
    ("plans.executor_run_s", "s"),
    ("plans.gc_s", "s"),
    ("plans.tasks", "count"),
    ("session.self_s", "s"),
    ("sources.self_s", "s"),
    ("pipelines.self_s", "s"),
    ("sinks.self_s", "s"),
    ("plans.self_s", "s"),
    ("gen.events", "count"),
    ("gen.lag_s_max", "s"),
)


class Context:
    """What a workload gets: the live session, its own work directory,
    the seed, the measured seconds and the tracer. A workload calls
    ``measure_heap`` once, at the end of its measured phase, while its
    queries still hold their state."""

    def __init__(self, spark, work, seed, seconds, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.heap_mb = self.heap_s = None

    def measure_heap(self) -> None:
        t = time.time()
        self.heap_mb = jvm_live_heap_mb(self.spark)
        self.heap_s = time.time() - t


def _stop_engine(spark) -> None:
    """Stop the session and its JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    spark.stop()
    # PySpark keeps the JVM it launched for the life of the interpreter;
    # close its gateway so the JVM exits before this process does
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=NCPU)
    args = ap.parse_args(argv)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    # keep every temporary file of this process, the Spark launcher, the JVM
    # and the Python workers inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tracer = Tracer(bool(args.trace))
    spark = rss = None
    try:
        spark, setup_s = start_session(tracer, bool(args.trace), args.cores)
        rss = WorkerRssSampler(spark.sparkContext._gateway.proc.pid).start()
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        t_run = time.time()
        res = importlib.import_module(args.workload).run(ctx)
        rss.sample()
    finally:
        t_stop = time.time()
        if rss is not None:
            rss.stop()
        if spark is not None:
            _stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    lat = res["latency"]
    failed = min(int(res["failed"]), int(res["attempted"]))
    e2e = {
        "setup_s": setup_s,
        "mem_mb": ctx.heap_mb + rss.workers_mb(),
        "ok_share": 1.0 - failed / res["attempted"],
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": args.cores,
        "end_to_end": e2e,
        "failures": res.get("failures", {}),
        "info": res.get("info", {}),
        "latency_samples": len(lat),
        "phase_s": {
            "setup": setup_s,
            "workload": t_stop - t_run,
            "live_heap": ctx.heap_s,
            "teardown": time.time() - t_stop,
        },
        "memory_mb": {
            "jvm_live_heap": ctx.heap_mb,
            "python_workers_peak_rss": rss.workers_mb(),
            "jvm_peak_rss": rss.jvm_mb(),
        },
    }
    last = os.path.join(WORK, "last", f"{args.workload}-c{args.cores}.json")
    if args.trace:
        layers = {name: 0.0 for name, _ in PER_LAYER}
        layers.update(res["layers"])
        for layer, s in tracer.self_times().items():
            if f"{layer}.self_s" in layers:
                layers[f"{layer}.self_s"] = s
        base = None
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
        report["tracing_overhead"] = (
            {k: e2e[k] - base["end_to_end"][k] for k in e2e}
            if base
            else "no untraced run of this workload and core count in this checkout"
        )
        report["self_s"] = tracer.self_times()
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"report": report, "per_layer": layers},
        )
        print(json.dumps({"tracing_overhead": report["tracing_overhead"]}), file=sys.stderr)
        metrics = {n: metric(layers[n], u) for n, u in PER_LAYER}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(report, fh)
        metrics = {n: metric(e2e[n], u) for n, (u, _) in END_TO_END.items()}
    print(json.dumps({"report": report}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": int(res["attempted"]),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
