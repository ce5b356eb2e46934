"""Shared harness: session set-up, memory sampling, spans, progress parsing.

The benchmark drives the engine only through its public modules; what it
measures comes from wall clocks taken around those calls, from Spark's
public progress/status APIs (``StreamingQuery.recentProgress`` and, in a
traced run, the UI REST endpoint) and from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
NCPU = len(os.sched_getaffinity(0))
LIVE_HEAP_MAX_COLLECTIONS = 5
# the reads of the serving layer that ``dws_serving`` runs
SERVING_QUERIES = (
    "dws02_traffic_page_view_window",
    "dws03_home_detail_uv_window",
    "dws04_user_login_window",
    "dws05_user_register_window",
    "dws06_cart_add_uu_window",
    "dws09_trade_sku_order_window",
    "dwd_trade_order_detail",
    "dwd_cart_add",
    "dim_config_routing",
    "baselog_stream_split",
    "keyword_page_view",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
)


def process_start_wall() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution):
    now minus the time since the process started. Uses the uptime rather
    than /proc/stat's btime, which the kernel truncates to whole seconds."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pct(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation; 0.0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def iso_ms(s: str) -> float:
    """Spark progress timestamp ('2024-03-01T10:00:00.123Z') -> epoch s."""
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process descended from ``pid``."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class WorkerRssSampler:
    """Peak resident memory (VmHWM) of the Python workers the Spark JVM
    forks. Each worker's own peak is kept for every pid ever seen, so
    workers that exit before the end still count. The JVM's own VmHWM is
    kept for context only: it follows the heap G1 has committed, not what
    the engine keeps in it (see ``jvm_live_heap_mb``)."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self._peak: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        for pid in [self.jvm_pid, *descendants(self.jvm_pid)]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
                # a JVM child caught between fork and exec (Hadoop's shell
                # helpers) still reports the JVM's peak under a thread name
                if pid != self.jvm_pid and not name.startswith("python"):
                    continue
                with open(f"/proc/{pid}/status") as fh:
                    hwm = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM"))
            except (OSError, StopIteration):
                continue
            self._peak[pid] = max(self._peak.get(pid, 0), hwm)
            self.names[pid] = name

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def workers_mb(self) -> float:
        """Summed peaks of the Python workers, in MB."""
        return sum(kb for pid, kb in self._peak.items() if pid != self.jvm_pid) / 1024.0

    def jvm_mb(self) -> float:
        return self._peak.get(self.jvm_pid, 0) / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans, written once at the end of a traced run. A disabled
    tracer records nothing; ``span`` still yields so call sites stay the
    same in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = 0

    def add(self, name, start, end, parent=None, trace=None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self._ids += 1
            sid = self._ids
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "trace": trace if trace is not None else sid,
                }
            )
        return sid

    @contextmanager
    def span(self, name, parent=None, trace=None):
        t = time.time()
        try:
            yield
        finally:
            self.add(name, t, time.time(), parent, trace)

    def self_times(self) -> dict[str, float]:
        """Self time per layer (name prefix before the first '.'): each
        span's duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


# Order of the phases inside one micro-batch (MicroBatchExecution): the
# progress reports their durations only, so child spans are laid end to end.
BATCH_PHASES = (
    ("latestOffset", "sources"),
    ("walCommit", "pipelines"),
    ("getBatch", "sources"),
    ("queryPlanning", "pipelines"),
    ("addBatch", "pipelines"),
    ("commitOffsets", "pipelines"),
)


def batches(query) -> list[dict]:
    """Progress of every executed micro-batch of a query, in order (idle
    progress reports, which run no batch, are dropped)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def batch_end(p: dict) -> float:
    """Wall-clock commit time of a micro-batch."""
    return iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def trace_batches(tracer: Tracer, qname: str, progress: list[dict]) -> dict:
    """One span per micro-batch with its phases as children; returns
    batchId -> addBatch span id so sink spans can be parented to it."""
    add_ids = {}
    if not tracer.enabled:
        return add_ids
    for p in progress:
        start = iso_ms(p["timestamp"])
        root = tracer.add(f"pipelines.batch.{qname}", start, batch_end(p))
        t = start
        for phase, layer in BATCH_PHASES:
            dur = p["durationMs"].get(phase, 0) / 1000.0
            sid = tracer.add(f"{layer}.{phase}", t, t + dur, root, root)
            if phase == "addBatch":
                add_ids[p["batchId"]] = (sid, root)
            t += dur
    return add_ids


def streaming_layer_metrics(progress_by_query: dict, wall: tuple) -> dict:
    """Per-layer metrics read from StreamingQueryProgress."""
    allp = [p for ps in progress_by_query.values() for p in ps]
    dm = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    ops = [op for p in allp for op in p.get("stateOperators", [])]
    last_ops = [
        op for ps in progress_by_query.values() if ps
        for op in ps[-1].get("stateOperators", [])
    ]
    # idle share: wall time in which no query was running a batch
    spans = sorted((iso_ms(p["timestamp"]), batch_end(p)) for p in allp)
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        lo, hi = max(lo, wall[0]), min(hi, wall[1])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    span = max(wall[1] - wall[0], 1e-9)
    return {
        "sources.input_rows": sum(p["numInputRows"] for p in allp),
        "sources.offset_ms_p50": median(
            [dm(p, "latestOffset") + dm(p, "getBatch") for p in allp]
        ),
        "pipelines.batches": len(allp),
        "pipelines.trigger_ms_p50": median([dm(p, "triggerExecution") for p in allp]),
        "pipelines.trigger_ms_p99": pct([dm(p, "triggerExecution") for p in allp], 99),
        "pipelines.planning_ms_p50": median([dm(p, "queryPlanning") for p in allp]),
        "pipelines.add_batch_ms_p50": median([dm(p, "addBatch") for p in allp]),
        "pipelines.checkpoint_ms_p50": median(
            [dm(p, "walCommit") + dm(p, "commitOffsets") for p in allp]
        ),
        "pipelines.idle_share": 1.0 - busy / span,
        "stateful.rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "stateful.memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops),
        "stateful.commit_ms_p50": median([op.get("commitTimeMs", 0) for op in ops]),
        "stateful.rows_updated_p50": median(
            [op.get("numRowsUpdated", 0) for op in ops]
        ),
        "stateful.late_rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops
        ),
    }


def stage_totals(spark) -> dict:
    """Sums over completed stages from the Spark UI REST endpoint (traced
    runs only: the UI is off otherwise)."""
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        stages = json.load(r)
    g = lambda k: sum(s.get(k, 0) for s in stages)  # noqa: E731
    return {
        "scan_bytes": g("inputBytes"),
        "shuffle_bytes": g("shuffleReadBytes") + g("shuffleWriteBytes"),
        "spill_bytes": g("memoryBytesSpilled") + g("diskBytesSpilled"),
        "executor_run_s": g("executorRunTime") / 1000.0,
        "gc_s": g("jvmGcTime") / 1000.0,
        "tasks": g("numCompleteTasks"),
    }


def jvm_live_heap_mb(spark) -> float:
    """Live heap of the Spark JVM in MB: what the heap pools held right
    after a full collection (``System.gc()``, a stop-the-world full GC under
    G1's default settings), as each pool's collection usage reports it.
    Unlike a peak of heap use, which follows how large G1 lets the young
    generation grow, this is what the engine still holds; unlike the heap's
    current use, it leaves out what threads allocated after the collection.

    Spark's ContextCleaner frees broadcast and shuffle state only after a
    collection has shown it unreachable, and it works through its queue one
    item at a time: so collect again, half a second apart, until a
    collection frees less than 1 MB more."""
    jvm = spark.sparkContext._jvm
    pools = [
        p
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    ]

    def collect() -> float:
        jvm.java.lang.System.gc()
        return sum(p.getCollectionUsage().getUsed() for p in pools) / 2**20

    live = collect()
    for _ in range(LIVE_HEAP_MAX_COLLECTIONS):
        time.sleep(0.5)
        again = collect()
        if live - again < 1.0:
            return again
        live = again
    return live


def start_session(tracer: Tracer, trace: bool, cores: int):
    """Build the engine session and run its first job. Returns (spark,
    setup_s) where setup_s runs from process start to that job's end."""
    from realtimedatawarehouse_self_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    # The engine's own memory settings apply; these options only keep every
    # file the JVM writes inside the checkout.
    java_opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
    return spark, time.time() - process_start_wall()


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
