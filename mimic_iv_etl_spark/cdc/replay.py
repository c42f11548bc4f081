"""Change-log replay driver: deterministic micro-batches + checkpoint resume.

Replays a change log (directory of ``tranche-*/part-*.parquet``, see
``changelog.py``) through :func:`apply_batch` in per-source-partition offset
order — the engine-side equivalent of tailing a binlog/WAL. What sets it
apart from the streaming shell (``stream.py``) is only how batches are cut:
here, fixed per-partition offset windows.

Replay metadata (offset bounds, dense per-partition ranges, log tail) comes
from one :func:`~mimic_iv_etl_spark.cdc.changelog.read_manifest` call per
log, plus ONE pyarrow footer read per tranche for its schema; the
O(files) parquet-footer sweep is the fallback for tranches the manifest
does not record. At 10^10-event scale this keeps the fixed pre-batch
driver time O(tranches).

Delivery contract (the binlog/Kafka contract): events of one source
partition arrive in non-decreasing offset order across batches. Under that
contract the table's committed ``applied_offsets`` high-water marks are a
complete checkpoint: on restart, replay skips fully-applied offset windows
without touching data, partially-applied windows are re-filtered row-level by
``apply_batch``, and re-delivered events reduce to no-ops (exactly-once).

Tranches are processed sequentially, each read with its own written schema —
so a schema-evolution point mid-log reaches the table exactly when the first
evolved batch does, not retroactively.

The streaming shell shares this module's table open-or-create
(:func:`open_table`) and layout-conflict reapply (:func:`apply_retrying`).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mimic_iv_etl_spark.cdc.apply import apply_batch
from mimic_iv_etl_spark.cdc.changelog import _tranche_schema, read_manifest
from mimic_iv_etl_spark.cdc.metrics import flush_sidecars
from mimic_iv_etl_spark.lake.table import CommitConflict, LakeTable

_FLUSH_SIDECARS_EVERY = 256  # applied batches between sidecar flushes


def open_table(spark, table_path: str, schema, n_buckets: int) -> LakeTable:
    """The table an ingest driver writes: opened when it exists, else
    created with ``schema`` and ``n_buckets``."""
    if LakeTable.exists(table_path):
        return LakeTable(spark, table_path)
    if schema is None:
        raise ValueError("schema required to create a new table")
    return LakeTable.create(spark, table_path, schema, n_buckets=n_buckets)


def apply_retrying(table: LakeTable,
                   apply_once: Callable[[], dict]) -> tuple[dict, int]:
    """Run one batch through the driver's ``apply_once`` closure (its call
    of :func:`apply_batch`); returns ``(stats, layout_retries)``.

    Online partition/schema evolution: a concurrent writer that changes the
    table layout mid-batch makes the staged winners' bucket routing stale,
    and the commit rebase refuses them with CommitConflict. Offsets only
    commit on success, so re-running the batch against the refreshed handle
    is idempotent — the winners re-stage with the NEW layout and ingest
    continues with zero downtime (one batch's work re-paid)."""
    try:
        return apply_once(), 0
    except CommitConflict:
        table.refresh()
        return apply_once(), 1


def replay_log(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    schema=None,
    batch_offsets: int = 100_000,
    n_buckets: int = 32,
    write_salt: int = 1,
    auto_compact_deltas: int | None = None,
    decode_payload: bool = False,
    normalize: bool = False,
) -> dict:
    """Replay the whole log into the table at ``table_path`` (created with
    ``schema`` if absent). ``batch_offsets`` sets the per-partition offset
    width of each micro-batch. Returns aggregate throughput stats
    (apply-loop wall time only, fixture IO excluded — BASELINE.md protocol).

    ``auto_compact_deltas`` compacts, after each batch, the buckets holding
    more than that many delta files (:meth:`LakeTable.maybe_compact`).

    The driver-local lineage/metrics JSONL tails are folded into
    cluster-durable parquet segments every ``_FLUSH_SIDECARS_EVERY`` applied
    batches and once at the end of the replay (one tiny Spark job per flush,
    amortized off the apply hot path).

    ``decode_payload``/``normalize`` run on LWW winners only inside
    ``apply_batch`` (LWW never reads ``text``, so the winners are the same
    either way); it also decides which raw columns each batch contributes,
    and column pruning keeps the rest out of the scan.

    When the log manifest carries dense per-partition offset ranges, each
    window's ranges go to ``apply_batch``, which then runs the packed-stamp
    ``locator`` LWW kernel (verified inside its aggregate); without them it
    runs the ``agg`` kernel.
    """
    log = read_manifest(log_dir)
    table = open_table(spark, table_path, schema, n_buckets)

    total_applied = 0
    n_batches = 0
    n_skipped_windows = 0
    n_layout_retries = 0
    batch_seq = 0
    t0 = time.monotonic()

    for tranche, meta in log.items():
        df = spark.read.schema(_tranche_schema(tranche)).parquet(tranche)
        start = meta.offset_lo
        while start <= meta.offset_hi:
            end = start + batch_offsets  # exclusive
            # checkpoint resume: skip windows fully below every high-water mark
            applied = table.applied_offsets
            if applied and end - 1 <= min(applied.values()):
                n_skipped_windows += 1
                start = end
                continue
            batch = df.filter((F.col("offset") >= start) & (F.col("offset") < end))
            window_ranges = None
            if meta.partition_offsets is not None:
                # dense ranges ∩ this offset window, per source partition:
                # apply_batch does the offset bookkeeping as window
                # arithmetic, verified inside the batch's own dedup aggregate
                window_ranges = {}
                for p, (p_lo, p_hi) in meta.partition_offsets.items():
                    w_lo, w_hi = max(p_lo, start), min(p_hi, end - 1)
                    if w_lo <= w_hi:
                        window_ranges[p] = (w_lo, w_hi)

            def _apply_once():
                return apply_batch(table, batch, batch_id=batch_seq,
                                   write_salt=write_salt,
                                   decode_payload=decode_payload,
                                   normalize=normalize,
                                   manifest_ranges=window_ranges,
                                   log_tail=log.tail)

            stats, retries = apply_retrying(table, _apply_once)
            n_layout_retries += retries
            batch_seq += 1
            total_applied += stats["events_applied"]
            if stats["skipped"]:
                n_skipped_windows += 1
            else:
                n_batches += 1
            if auto_compact_deltas:
                table.maybe_compact(auto_compact_deltas)
            if n_batches and n_batches % _FLUSH_SIDECARS_EVERY == 0:
                flush_sidecars(table.path)
            start = end

    secs = time.monotonic() - t0
    # final durability flush AFTER the throughput clock stops: sidecars are
    # best-effort observability (metrics.py), not part of the apply loop
    flush_sidecars(table.path)
    return {
        "events_applied": total_applied,
        "batches": n_batches,
        "skipped_windows": n_skipped_windows,
        "layout_retries": n_layout_retries,
        "seconds": secs,
        "events_per_sec": total_applied / secs if secs > 0 else 0.0,
        "snapshot_version": table.version,
    }
