"""Seeded load generator for the warehouse benchmark.

Everything the benchmark feeds the engine is made here, from a seed, so
the same seed gives byte-identical input and the engine receives only the
generated files. Two kinds of input:

- ``log``: the open-loop page-log schedule of ``log_realtime``. A restart
  backlog is written first; then one JSON-lines file per tick is published
  by rename on a fixed wall-clock schedule that does not wait for the
  consumer. Every event's ``ts`` is its scheduled creation time (epoch ms,
  offset from a fixed daytime anchor). Users and devices are Zipf-skewed
  over a large key space; a known share of lines is malformed and a known
  share of events is published late, but never later than the 2 s
  watermark allows.
- ``cdc``: a Maxwell changelog backlog over three dim tables of very
  different sizes (bootstrap-inserts, then updates, inserts and deletes
  whose keys follow a power law, so hot keys repeat within a batch; noise
  rows from another database; ``ts`` strictly increasing).

Run as a process of its own:

    python3 perfbench/gen.py log --seed 1 --out DIR --rate 4000 --backlog-s 20 --live-s 20
    python3 perfbench/gen.py cdc --seed 1 --out DIR --changes 15000 --file-changes 6000

``log`` writes the backlog into ``DIR/src``, stages the live files in
``DIR/stage``, writes ``DIR/manifest.json`` and then waits for ``DIR/go``
(which holds the wall-clock start ``t0``) before publishing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

# 10:00:00 UTC on a fixed day: every event of a run falls on the same date,
# far from midnight, so day-scoped state (UV dedup, visitor repair) never
# sees a rollover the run did not ask for.
ANCHOR_MS = 1709287200000  # 2024-03-01T10:00:00Z
FLUSH_OFFSET_S = 3600  # far-future flush row: closes every open window
FLUSH_TYPE = "__flush__"
WATERMARK_S = 2.0
MAX_DELAY_S = 1.5  # out-of-order delay bound, kept below the watermark
LOG_SCHEMA = (
    "event_id BIGINT, ts BIGINT, mid STRING, user_id BIGINT, "
    "event_type STRING, value DOUBLE, is_new STRING"
)
# 64 page types: with both DWS legs, one closed 10 s window yields up to
# 128 result rows, enough for a p90 with ten samples beyond it.
PAGE_TYPES = tuple(
    f"{p}_{i}"
    for p in ("home", "good_detail", "good_list", "search", "cart", "trade", "login", "mine")
    for i in range(8)
)
KEY_SPACE = 1_000_000
ZIPF_S = 1.1

MALFORMED_SHARE = 0.01
OUT_OF_ORDER_SHARE = 0.05


def _zipf_sampler(n: int, s: float):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]

    def draw(rng: np.random.Generator, size: int) -> np.ndarray:
        return np.searchsorted(cdf, rng.random(size), side="right")

    return draw


# ---------------------------------------------------------------------------
# log_realtime
# ---------------------------------------------------------------------------
def _malformed(rng: np.random.Generator, k: int) -> list[str]:
    shapes = (
        '{"event_id": %d, "ts": ',  # truncated record
        "not json %d",
        '{"event_id": "x%d", "ts": "soon"}',  # wrong types
    )
    picks = rng.integers(0, len(shapes), k)
    ids = rng.integers(0, 1 << 30, k)
    return [shapes[p] % i for p, i in zip(picks, ids)]


def log_plan(
    seed: int, rate: int, backlog_s: float, live_s: float, tick_s: float
) -> dict:
    """The whole ``log_realtime`` input as data: backlog lines, live files
    (one per tick, in publish order) and the flush file, plus the counts the
    output checks compare against. Deterministic in its arguments."""
    rng = np.random.default_rng(seed)
    zipf = _zipf_sampler(KEY_SPACE, ZIPF_S)
    page_w = 1.0 / np.arange(1, len(PAGE_TYPES) + 1) ** 0.3
    page_w /= page_w.sum()
    n_back_ticks = int(round(backlog_s / tick_s))
    n_live_ticks = int(round(live_s / tick_s))
    per_tick = int(round(rate * tick_s))
    n_ticks = n_back_ticks + n_live_ticks
    n = per_tick * n_ticks
    # creation offsets (s, relative to t0): per_tick events uniform in each tick
    tick_idx = np.repeat(np.arange(n_ticks), per_tick)
    off = (tick_idx - n_back_ticks + rng.random(n)) * tick_s
    off.sort()
    ts = ANCHOR_MS + np.floor(off * 1000).astype(np.int64)
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    delay = np.where(late, rng.uniform(0.05, MAX_DELAY_S, n), 0.0)
    # an event is published at the end of the tick it becomes visible in
    pub_tick = np.floor((off + delay) / tick_s).astype(np.int64) + n_back_ticks
    pub_tick = np.minimum(pub_tick, n_ticks - 1)
    mids = zipf(rng, n)
    users = zipf(rng, n)
    pages = rng.choice(len(PAGE_TYPES), n, p=page_w)
    values = np.round(rng.uniform(0.5, 60.0, n), 2)
    is_new = np.where(rng.random(n) < 0.2, "1", "0")
    lines = [
        '{"event_id":%d,"ts":%d,"mid":"mid_%d","user_id":%d,'
        '"event_type":"%s","value":%.2f,"is_new":"%s"}'
        % (i, ts[i], mids[i], users[i], PAGE_TYPES[pages[i]], values[i], is_new[i])
        for i in range(n)
    ]
    files: list[list[str]] = [[] for _ in range(n_ticks)]
    for i in range(n):
        files[pub_tick[i]].append(lines[i])
    n_bad = 0
    for k, f in enumerate(files):
        bad = int(rng.binomial(len(f), MALFORMED_SHARE / (1 - MALFORMED_SHARE)))
        f.extend(_malformed(rng, bad))
        n_bad += bad
        order = rng.permutation(len(f))
        files[k] = [f[j] for j in order]
    flush = (
        '{"event_id":%d,"ts":%d,"mid":"mid_flush","user_id":-1,'
        '"event_type":"%s","value":0.00,"is_new":"0"}'
        % (n, ANCHOR_MS + FLUSH_OFFSET_S * 1000, FLUSH_TYPE)
    )
    backlog_events = int(np.count_nonzero(pub_tick < n_back_ticks))
    return {
        "backlog": files[:n_back_ticks],
        "live": files[n_back_ticks:],
        "flush": [flush],
        "manifest": {
            "seed": seed,
            "rate": rate,
            "tick_s": tick_s,
            "backlog_s": n_back_ticks * tick_s,
            "live_s": n_live_ticks * tick_s,
            "anchor_ms": ANCHOR_MS,
            "flush_ts_ms": ANCHOR_MS + FLUSH_OFFSET_S * 1000,
            "events": n,
            "malformed": n_bad,
            "out_of_order": int(np.count_nonzero(pub_tick != tick_idx)),
            "late_flagged": int(np.count_nonzero(late)),
            "backlog_events": backlog_events,
            "backlog_lines": sum(len(f) for f in files[:n_back_ticks]),
            "lines": sum(len(f) for f in files) + 1,
        },
    }


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def run_log(args) -> None:
    plan = log_plan(args.seed, args.rate, args.backlog_s, args.live_s, args.tick_s)
    src = os.path.join(args.out, "src")
    stage = os.path.join(args.out, "stage")
    os.makedirs(src, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    for k, lines in enumerate(plan["backlog"]):
        _write_lines(os.path.join(src, f"b{k:05d}.jsonl"), lines)
    live = plan["live"] + [plan["flush"]]
    for k, lines in enumerate(live):
        _write_lines(os.path.join(stage, f"l{k:05d}.jsonl"), lines)
    _write_json(os.path.join(args.out, "manifest.json"), plan["manifest"])
    go = os.path.join(args.out, "go")
    parent, deadline = os.getppid(), time.time() + 300
    while not os.path.exists(go):
        if time.time() > deadline or os.getppid() != parent:
            sys.exit("no go signal")  # the benchmark gave up or died
        time.sleep(0.002)
    with open(go) as fh:
        t0 = float(fh.read())
    lags = []
    for k in range(len(live)):
        # file k holds events created in [t0 + k*tick, t0 + (k+1)*tick); the
        # flush file is published right after the last live file
        due = t0 + min(k + 1, len(plan["live"])) * args.tick_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"l{k:05d}.jsonl"
        staged = os.path.join(stage, name)
        os.utime(staged)  # mtime = publish time: the file source orders by it
        os.rename(staged, os.path.join(src, name))
        lags.append(time.time() - due)
    _write_json(
        os.path.join(args.out, "gen_done.json"),
        {"lag_s_max": max(lags), "published": len(live), "t0": t0},
    )


# ---------------------------------------------------------------------------
# dim_cdc
# ---------------------------------------------------------------------------
# table -> (bootstrap rows, payload columns)
DIM_TABLES = {
    "sku_info": (10000, ("id", "spu_id", "price", "sku_name", "tm_id", "create_time")),
    "user_info": (3000, ("id", "login_name", "user_level", "gender", "birthday")),
    "base_province": (34, ("id", "name", "region_id", "area_code", "iso_code")),
}
CDC_DB = "gmall"
NOISE_DB = "gmall_archive"
# share of post-bootstrap changes landing on each table
CDC_TABLE_SHARE = {"sku_info": 0.7, "user_info": 0.28, "base_province": 0.02}
CDC_OPS = {"update": 0.65, "insert": 0.25, "delete": 0.10}
NOISE_SHARE = 0.05


def _row(table: str, key: int, version: int, rng: np.random.Generator) -> dict:
    r = int(rng.integers(0, 1 << 20))
    if table == "sku_info":
        return {
            "id": str(key),
            "spu_id": str(key // 7),
            "price": "%.2f" % (1 + r % 99999 / 100),
            "sku_name": f"sku {key} v{version}",
            "tm_id": str(r % 50),
            "create_time": "2024-03-01 09:%02d:%02d" % (r % 60, (r >> 6) % 60),
        }
    if table == "user_info":
        return {
            "id": str(key),
            "login_name": f"user{key}",
            "user_level": str(1 + r % 5),
            "gender": "MF"[r % 2],
            "birthday": "19%02d-%02d-%02d" % (60 + r % 40, 1 + r % 12, 1 + r % 28),
        }
    return {
        "id": str(key),
        "name": f"province {key} v{version}",
        "region_id": str(r % 7),
        "area_code": "%06d" % (r % 999999),
        "iso_code": f"CN-{key}",
    }


def cdc_plan(seed: int, changes: int, file_changes: int) -> dict:
    """Maxwell changelog: bootstrap every table, then ``changes`` skewed
    updates/inserts/deletes, split into files of ``file_changes`` changes
    (noise and bootstrap markers ride along). ``ts`` strictly increases."""
    rng = np.random.default_rng(seed)
    env: list[tuple[str, bool]] = []  # (line, is an applied change)
    seq = 0

    def emit(db, table, typ, data, old=None):
        nonlocal seq
        seq += 1
        rec = {"database": db, "table": table, "type": typ, "ts": seq}
        if data is not None:
            rec["data"] = data
        if old is not None:
            rec["old"] = old
        applied = db == CDC_DB and data is not None
        env.append((json.dumps(rec, separators=(",", ":")), applied))

    live: dict[str, list[int]] = {}
    next_key: dict[str, int] = {}
    version: dict[tuple[str, int], int] = {}
    for t, (n, _) in DIM_TABLES.items():
        emit(CDC_DB, t, "bootstrap-start", None)
        for k in range(n):
            emit(CDC_DB, t, "bootstrap-insert", _row(t, k, 0, rng))
        emit(CDC_DB, t, "bootstrap-complete", None)
        live[t] = list(range(n))
        next_key[t] = n
    applied = sum(n for n, _ in DIM_TABLES.values())
    tables = list(CDC_TABLE_SHARE)
    t_pick = rng.choice(len(tables), changes, p=list(CDC_TABLE_SHARE.values()))
    op_pick = rng.choice(3, changes, p=list(CDC_OPS.values()))
    hot = rng.random(changes)
    for i in range(changes):
        t = tables[t_pick[i]]
        keys = live[t]
        op = ("update", "insert", "delete")[op_pick[i]]
        if op != "insert" and len(keys) < 2:
            op = "insert"
        if op == "insert":
            k = next_key[t]
            next_key[t] += 1
            keys.append(k)
            emit(CDC_DB, t, "insert", _row(t, k, 0, rng))
        else:
            # power law over the live keys by rank (density ~ rank^-5/6):
            # low ranks are hot and repeat
            j = min(int(len(keys) * hot[i] ** 6), len(keys) - 1)
            k = keys[j]
            if op == "update":
                version[(t, k)] = version.get((t, k), 0) + 1
                data = _row(t, k, version[(t, k)], rng)
                emit(CDC_DB, t, "update", data, {"id": str(k)})
            else:
                emit(CDC_DB, t, "delete", _row(t, k, version.get((t, k), 0), rng))
                # swap-remove: the last key takes the deleted key's rank
                last = keys.pop()
                if last != k:
                    keys[j] = last
        applied += 1
        if rng.random() < NOISE_SHARE:
            emit(NOISE_DB, t, "update", _row(t, k, 0, rng))
    # cut into files by applied-change count (markers/noise ride along)
    files, per_file, cur, n_cur = [], [], [], 0
    for line, counts in env:
        cur.append(line)
        n_cur += counts
        if n_cur >= file_changes:
            files.append(cur)
            per_file.append(n_cur)
            cur, n_cur = [], 0
    if cur:
        files.append(cur)
        per_file.append(n_cur)
    return {
        "files": files,
        "manifest": {
            "seed": seed,
            "changes": applied,
            "lines": len(env),
            "files": len(files),
            "file_changes": per_file,
            "tables": {t: list(cols) for t, (_, cols) in DIM_TABLES.items()},
            "table_rows": {t: len(live[t]) for t in DIM_TABLES},
        },
    }


def run_cdc(args) -> None:
    plan = cdc_plan(args.seed, args.changes, args.file_changes)
    src = os.path.join(args.out, "src")
    os.makedirs(src, exist_ok=True)
    base = time.time() - len(plan["files"]) - 10
    for k, lines in enumerate(plan["files"]):
        p = os.path.join(src, f"c{k:05d}.jsonl")
        _write_lines(p, lines)
        # strictly increasing mtimes: the file source orders batches by them
        os.utime(p, (base + k, base + k))
    _write_json(os.path.join(args.out, "manifest.json"), plan["manifest"])


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="kind", required=True)
    lg = sub.add_parser("log")
    lg.add_argument("--seed", type=int, required=True)
    lg.add_argument("--out", required=True)
    lg.add_argument("--rate", type=int, required=True)
    lg.add_argument("--backlog-s", type=float, required=True)
    lg.add_argument("--live-s", type=float, required=True)
    lg.add_argument("--tick-s", type=float, default=0.25)
    cd = sub.add_parser("cdc")
    cd.add_argument("--seed", type=int, required=True)
    cd.add_argument("--out", required=True)
    cd.add_argument("--changes", type=int, required=True)
    cd.add_argument("--file-changes", type=int, required=True)
    args = ap.parse_args(argv)
    {"log": run_log, "cdc": run_cdc}[args.kind](args)


if __name__ == "__main__":
    main()
