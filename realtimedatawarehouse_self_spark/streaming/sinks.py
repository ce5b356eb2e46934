"""Streaming sinks.

The reference's sink surface (SURVEY.md §2.2) maps onto:

- K1 fixed-topic Kafka producer      -> `append_parquet`; on a cluster,
  Spark's built-in `writeStream.format("kafka")` sink with a `topic` option
- K2 dynamic-topic producer          -> the same built-in kafka sink without
  the `topic` option: it routes each row by its own `topic` column
  (no wrapper here, and no kafka connector jar in this container)
- K3 upsert-Kafka / K5 Phoenix upsert-> `upsert_parquet` keyed merge (the
  Delta-MERGE pattern; Delta itself is not available in this container, so
  the merge is implemented as read+anti-join+atomic-swap over parquet —
  on a real cluster swap this for `DeltaTable.merge` unchanged)
- K6 Redis cache maintenance         -> unnecessary (broadcast/scan replaces
  the cache tier; see SURVEY.md §2.2 K6)
- K7 print sink                      -> format("console")

Scale note: `upsert_parquet` rewrites the table per batch, which is correct
and idempotent but O(table) per merge — exactly why production uses Delta
(file-level pruning on merge). The call-site API matches MERGE semantics so
the swap is mechanical.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to upsert a table whose lease is live.

    The parquet swap protocol (like the Phoenix/Delta sinks it stands in
    for) is single-writer-per-table; unlike Delta there is no log to
    reconcile concurrent commits, so the second writer must fail fast
    rather than corrupt the swap."""


# Writers that die without releasing their lock must not wedge the table
# forever: a lock older than the lease is presumed dead and taken over.
# The lease must comfortably exceed one merge's runtime — a merge is
# O(table) (see module docstring), so size this to the slowest expected
# batch, not the average.
LOCK_LEASE_S = 600.0


def _acquire_lock(path: str, lease_s: float = LOCK_LEASE_S) -> str:
    """Take the single-writer lease for `path` (atomic O_EXCL create).

    Returns the lock path. Raises ConcurrentWriterError if another
    writer's lease is live. A stale lock (older than `lease_s`) is
    removed and acquisition retried — the unlink+create pair is not
    atomic, so two writers racing on the SAME stale lock can in theory
    both proceed; the window is microseconds against a lease of minutes,
    and the alternative (never reclaiming) wedges the table after any
    writer crash. Production systems swap this for Delta's log-based
    commit protocol unchanged at the call site."""
    lock = f"{os.path.abspath(path)}.__lock__"
    # first upsert into a fresh directory tree: the table's parent may not
    # exist yet (Spark's write would create it; the lock comes first)
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump({"pid": os.getpid(), "ts": time.time()}, f)
            return lock
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                continue  # holder released between our open and stat: retry
            if age < lease_s:
                raise ConcurrentWriterError(
                    f"table {path!r} is being written by another process "
                    f"(lock {lock!r}, age {age:.0f}s < lease {lease_s:.0f}s)"
                )
            # stale: presumed-dead holder; reclaim and retry the O_EXCL
            try:
                os.unlink(lock)
            except OSError:
                pass
    raise ConcurrentWriterError(
        f"could not acquire lock {lock!r} after stale-lease takeover"
    )


def batch_id_guard(marker_path: str):
    """Make a non-idempotent foreachBatch function exactly-once.

    Structured Streaming may REPLAY a micro-batch after a failure; sinks
    whose merge is not idempotent (additive rollups, appends) double-apply
    it. This decorator keeps a batch-id high-water mark next to the sink:
    a batch at or below the mark is a replay and is skipped; the mark is
    advanced with an atomic rename AFTER the wrapped merge commits. This
    is the standard foreachBatch exactly-once recipe (Delta's
    txnVersion/txnAppId, re-expressed for filesystem sinks). Crash window:
    dying between the merge commit and the mark rename replays once —
    close it by committing the mark inside the sink's own swap (as
    upsert_parquet does for ``meta={"batch_id": ...}``) or by making the
    merge itself keyed-idempotent."""

    def wrap(fn):
        def inner(batch_df: DataFrame, batch_id: int) -> None:
            if os.path.exists(marker_path):
                with open(marker_path) as fh:
                    if batch_id <= int(fh.read().strip()):
                        return  # replayed batch: already applied
            fn(batch_df, batch_id)
            tmp = marker_path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(batch_id))
            os.replace(tmp, marker_path)

        return inner

    return wrap


def append_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
    meta: dict | None = None,
    delete_col: str | None = None,
) -> None:
    """MERGE INTO analogue: last-writer-wins upsert keyed on `keys`.

    Reference: DIM_SinkFunction.java:28-92 (Phoenix `upsert into`) and the
    upsert-Kafka sink (MyKafkaUtil.java:129-137). Within a single `updates`
    batch, the row with the greatest `order_col` (if given) wins —
    deterministic, unlike the reference's arrival-order semantics.

    Single-writer contract: a per-table lease lockfile makes a concurrent
    upsert raise ConcurrentWriterError instead of corrupting the swap;
    locks abandoned by crashed writers are reclaimed after LOCK_LEASE_S.

    `meta` (optional) is committed ATOMICALLY with the data: it is written
    as `_meta.json` inside the new table directory before the swap rename
    (underscore-prefixed files are invisible to parquet directory reads),
    so a transactional marker — e.g. a foreachBatch batch-id high-water
    mark — can never be observed out of sync with the table contents.
    Read it back with `read_table_meta`. A call whose `meta["batch_id"]`
    is at or below the committed one is a foreachBatch REPLAY whose merge
    already committed: it is skipped, checked under the table lock so the
    check and the merge are one atomic step.

    `delete_col` (optional) adds the Delta-MERGE "WHEN MATCHED ... THEN
    DELETE" leg: after within-batch last-writer resolution, rows whose
    `delete_col` is true act as tombstones — the key is REMOVED from the
    table instead of upserted (CDC delete application; reference tombstone
    semantics BaseDBApp.java:53 / MyKafkaUtil.java:129-137). The column
    itself is never persisted. `delete_col` REQUIRES `order_col` (ADVICE
    r7): without it, within-batch resolution is dropDuplicates(keys),
    which picks an arbitrary row — whether a key carrying both a delete
    and a non-delete row in one batch ends up deleted or upserted would
    be nondeterministic.
    """
    if delete_col is not None and order_col is None:
        raise ValueError(
            "delete_col requires order_col: without a within-batch order, "
            "a key carrying both a delete and a non-delete row in the same "
            "batch would resolve nondeterministically"
        )
    lock = _acquire_lock(path)
    try:
        _upsert_locked(spark, updates, path, keys, order_col, meta, delete_col)
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


def read_table_meta(path: str) -> dict | None:
    """Read the `_meta.json` committed with the last `upsert_parquet` swap
    (None if the table or its meta does not exist)."""
    f = os.path.join(path, "_meta.json")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def _upsert_locked(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None,
    meta: dict | None = None,
    delete_col: str | None = None,
) -> None:
    # If a previous run died between the two swap renames, the serving dir
    # is missing but `<path>.__old__` holds the table — restore it BEFORE
    # reading existing state, or this merge would silently rebuild the
    # table from one batch and the cleanup below would destroy the backup.
    recover_table(path)
    if meta is not None and "batch_id" in meta:
        seen = read_table_meta(path)
        if seen is not None and meta["batch_id"] <= seen.get("batch_id", -1):
            return  # replayed batch: its merge already committed

    within = updates
    if order_col:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        within = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        within = updates.dropDuplicates(keys)

    # Tombstone leg: a key whose LAST within-batch row is a delete is
    # removed (its key still anti-joins existing state below, so the old
    # row disappears and nothing is re-inserted).
    if delete_col is not None:
        upserts = within.filter(~F.col(delete_col)).drop(delete_col)
    else:
        upserts = within

    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(within.select(*keys), keys, "left_anti")
        merged = keep.unionByName(upserts, allowMissingColumns=True)
    else:
        merged = upserts

    # Crash-safe swap. The tmp dir is a SIBLING of `path` so the final move
    # is a same-filesystem rename (os.rename), never a copy; the old table
    # is renamed aside (not deleted) before the new one moves in, so a crash
    # at any point leaves either the old or the new table recoverable on
    # disk — standing in for Delta MERGE atomicity (see module docstring).
    # Crash windows: before the swap -> old table untouched, tmp leaks and
    # is cleaned next call; between the two renames -> table dir briefly
    # absent but the old data is intact at `<path>.__old__` (recover_table
    # restores it); after -> done, `.__old__` cleanup is best-effort.
    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(os.path.abspath(path))
    tmp = os.path.join(parent, f".{base}.__tmp__.{uuid.uuid4().hex}")
    old = os.path.join(parent, f"{base}.__old__")
    _clean_leftovers(parent, base)
    try:
        merged.write.mode("overwrite").parquet(tmp)
        if meta is not None:
            # inside tmp BEFORE the rename: the swap commits data + meta
            # as one atomic unit
            with open(os.path.join(tmp, "_meta.json"), "w") as fh:
                json.dump(meta, fh)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def recover_table(path: str) -> bool:
    """Post-crash recovery for `upsert_parquet`: if the table dir is missing
    but `<path>.__old__` exists (crash between the two renames), restore the
    old table. Returns True if a restore happened."""
    old = f"{os.path.abspath(path)}.__old__"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def _clean_leftovers(parent: str, base: str, min_age_s: float = 3600.0) -> None:
    """Remove tmp dirs leaked by a crash before the swap point.

    Only dirs older than `min_age_s` are removed: the swap protocol assumes
    a single writer per table (like the Phoenix/Delta sinks it stands in
    for), but if two writers ever race, an age gate keeps this sweep from
    deleting a concurrent writer's in-flight tmp dir."""
    prefix = f".{base}.__tmp__."
    now = time.time()
    for name in os.listdir(parent) if os.path.isdir(parent) else ():
        if name.startswith(prefix):
            full = os.path.join(parent, name)
            try:
                if now - os.path.getmtime(full) >= min_age_s:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass


def write_partitioned_overwrite(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent partitioned write: dynamic partition overwrite replaces
    ONLY the partitions present in `df`, leaving sibling partitions intact —
    the backfill contract a daily/hourly lake table needs (re-running a day
    never truncates the table, unlike static overwrite). At 100 TB this is
    the batch-side companion to the streaming upsert: reprocessing is safe
    because the write is a pure function of the input partition set."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
