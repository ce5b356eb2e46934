"""``dws_serving``: a closed loop of one client over the serving queries.

The 16 queries are the DWS/DWD/TPC-H reads of the serving layer, taken from
``plans.all_queries()`` (the registry behind ``__spark_entry__.queries()``).
The first round is the warm-up and the output check, run from several
client threads since it is not timed: each result is compared with its
``oracle_sql()`` twin on DuckDB through ``tests.oracle_harness.compare_query``
(results too large for it are compared inside DuckDB). Timed rounds follow,
whole rounds from one client until the measured seconds have passed; the
seed permutes the order in every round. Before each call the cache is
cleared and the query is built fresh, then executed to a ``noop`` sink, so
no result survives from one call to the next.
"""

from __future__ import annotations

import gc
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from common import BENCH_DIR, NCPU, SERVING_QUERIES, WORK, median, stage_totals
from realtimedatawarehouse_self_spark import plans
from tests.oracle_harness import compare_query, register_duckdb_views

# the repository's sf0.1 testdata tables, copied unchanged (read-only)
DATA = os.path.join(BENCH_DIR, "data", "sf0.1")
# Results above this many rows are compared inside DuckDB instead of through
# compare_query, which collects and normalises row by row in Python: for the
# 400k-600k-row detail results that alone takes longer than a timed round.
COLLECT_ROWS = 10_000
CHECK_THREADS = min(4, NCPU)


def _compare_in_duckdb(df, cur, oracle: str):
    """compare_query's verdict for a large result: the Spark result is
    collected as Arrow and both multiset differences with the oracle are
    counted in DuckDB (same columns, exact values, NULLs equal)."""
    view = f"spark_result_{threading.get_ident()}"
    cur.register(view, df.toArrow())
    try:
        cols = ", ".join(f'"{c}"' for c in sorted(df.columns))
        got = f"SELECT {cols} FROM {view}"
        exp = f"SELECT {cols} FROM ({oracle})"
        extra = cur.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {exp})").fetchone()[0]
        missing = cur.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {got})").fetchone()[0]
    finally:
        cur.unregister(view)
    if extra or missing:
        return False, f"{extra} rows not in the oracle, {missing} oracle rows missing"
    return True, "ok"


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    queries, oracles = plans.all_queries(), plans.all_oracles()
    rng = random.Random(ctx.seed)

    failures, check_s = {}, {}
    t_check = time.time()
    order = list(SERVING_QUERIES)
    rng.shuffle(order)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp')}'")
        con.execute("SET threads=1")
        register_duckdb_views(con, DATA)

        def check(name):
            """Oracle in DuckDB, then the Spark result compared with it."""
            cur = con.cursor()
            try:
                t = time.time()
                cur.execute(f'CREATE TABLE "{name}" AS {oracles[name]}')
                n = cur.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
                df = queries[name](spark, DATA)
                oracle = f'SELECT * FROM "{name}"'
                if n <= COLLECT_ROWS:
                    ok, detail = compare_query(df, cur, oracle)
                else:
                    ok, detail = _compare_in_duckdb(df, cur, oracle)
                if not ok:
                    failures[name] = detail
                check_s[name] = round(time.time() - t, 2)
            finally:
                cur.close()

        # The check round is also the warm-up, and most of its cost is the
        # cold JVM: it runs its queries from CHECK_THREADS client threads
        # (it is not timed), the timed rounds from one.
        spark.catalog.clearCache()
        with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
            list(pool.map(check, order))
    finally:
        con.close()

    # start the timed rounds from a collected heap: the check round leaves
    # large result buffers behind in both the JVM and this process
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    before = stage_totals(spark) if tracer.enabled else None
    calls: list[tuple] = []  # (name, build_s, execute_s)
    rounds = 0
    t_loop = time.time()
    # whole rounds only (every query equally often), until the measured
    # seconds have passed: one round of 7-15 s on 4 cores, two when the host
    # runs fast
    while time.time() - t_loop < ctx.seconds:
        order = list(SERVING_QUERIES)
        rng.shuffle(order)
        for name in order:
            spark.catalog.clearCache()
            t0 = time.time()
            df = queries[name](spark, DATA)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            calls.append((name, t1 - t0, t2 - t1))
            sid = tracer.add("plans.build", t0, t1)
            tracer.add("plans.execute", t1, t2, None, sid)
        rounds += 1
    t_end = time.time()
    # drop the last query's DataFrame so its plan holds no JVM state when
    # the live heap is measured
    del df
    gc.collect()
    ctx.measure_heap()

    layers = {
        "plans.build_ms_p50": median([b * 1000 for _, b, _ in calls]),
        **{
            f"plans.{q}.execute_s": median([e for n, _, e in calls if n == q])
            for q in SERVING_QUERIES
        },
    }
    if tracer.enabled:
        after = stage_totals(spark)
        per_round = {k: (after[k] - before[k]) / rounds for k in after}
        layers["sources.scan_bytes"] = per_round.pop("scan_bytes")
        layers.update({f"plans.{k}": v for k, v in per_round.items()})
    return {
        "attempted": len(calls) + len(SERVING_QUERIES),
        "failed": len(failures),
        "failures": failures,
        "throughput_per_s": len(calls) / (t_end - t_loop),
        "latency": [b + e for _, b, e in calls],
        "layers": layers,
        "info": {
            "rounds": rounds,
            "loop_s": t_end - t_loop,
            "check_s": t_loop - t_check,
            "check_s_by_query": check_s,
            "call_s": {n: round(b + e, 3) for n, b, e in calls},
        },
    }
