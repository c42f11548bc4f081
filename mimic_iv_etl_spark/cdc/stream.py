"""Structured Streaming shell: tail the change log → foreachBatch apply.

The production shape mandated by the north star: ``readStream`` over the
change log (file source here; Kafka-shaped in design — both deliver
per-source-partition offset order), ``foreachBatch(apply_batch)`` as the
exactly-once MERGE sink, offsets checkpointed via ``checkpointLocation``.

Two independent layers make restart exactly-once:
- Spark's streaming checkpoint replays unacknowledged source batches;
- the table's ``applied_offsets`` snapshot summary turns any re-delivered
  event into a row-level no-op (``apply.py``), covering the window where a
  batch committed to the table but the checkpoint wasn't advanced yet.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from mimic_iv_etl_spark.cdc.apply import apply_batch
from mimic_iv_etl_spark.lake.table import CommitConflict, LakeTable


def _tranche_file_offsets(tranche_dir: str) -> dict[str, dict[int, tuple[int, int]]] | None:
    """Per-FILE dense offset ranges for a tranche, from the log manifest
    (``changelog.py`` stamps them at write time; ``upgrade_manifest`` backfills
    and density-verifies older logs). Keyed by file basename. None when the
    manifest is absent, predates the field, or the log failed the per-file
    density check — the streaming path then falls back to the ranges
    aggregate bookkeeping and the ``agg`` LWW kernel."""
    log_dir = os.path.dirname(tranche_dir.rstrip("/"))
    path = os.path.join(log_dir, "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        manifest = json.load(f)
    base = os.path.basename(tranche_dir.rstrip("/"))
    for t in manifest.get("tranches", []):
        if f"tranche-{t['id']}" == base:
            fo = t.get("file_offsets")
            if not fo or not t.get("dense_offsets"):
                return None
            return {
                name: {int(p): (int(r[0]), int(r[1])) for p, r in po.items()}
                for name, po in fo.items()
            }
    return None


def _batch_files(checkpoint_dir: str, epoch_id: int) -> set[str] | None:
    """Basenames of the files in one micro-batch, from the file-stream
    source's own checkpoint log (``<ckpt>/sources/0/<batchId>`` — Spark's
    FileStreamSourceLog format: a ``v1`` header then one JSON entry per file
    with its ``batchId``; every ``compactInterval``-th batch is written as
    ``<batchId>.compact`` holding ALL entries so far). This is the
    authoritative batch↔file mapping — the foreachBatch DataFrame's
    ``inputFiles()`` is empty for streaming relations."""
    src = os.path.join(checkpoint_dir, "sources", "0")
    names: set[str] = set()
    for path in (os.path.join(src, str(epoch_id)),
                 os.path.join(src, f"{epoch_id}.compact")):
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or not line.startswith("{"):
                    continue
                e = json.loads(line)
                if int(e.get("batchId", -1)) == epoch_id:
                    names.add(os.path.basename(e["path"]))
        return names or None
    return None


def _batch_ranges(names: set[str] | None,
                  file_offsets: dict[str, dict[int, tuple[int, int]]] | None,
                  ) -> dict[int, tuple[int, int]] | None:
    """Dense per-partition (min, max) offset ranges of one file-source
    micro-batch, derived from the manifest's per-file ranges and the batch's
    file set. Returns None — the ranges-aggregate fallback — when any batch
    file is missing from the manifest or the merged ranges fail the density
    cross-check (files of one partition must tile a gapless offset span)."""
    if not file_offsets:
        return None
    if not names or any(n not in file_offsets for n in names):
        return None
    merged: dict[int, tuple[int, int]] = {}
    span: dict[int, int] = {}
    for n in names:
        for p, (lo, hi) in file_offsets[n].items():
            span[p] = span.get(p, 0) + (hi - lo + 1)
            if p in merged:
                merged[p] = (min(merged[p][0], lo), max(merged[p][1], hi))
            else:
                merged[p] = (lo, hi)
    for p, (lo, hi) in merged.items():
        if hi - lo + 1 != span[p]:
            return None  # batch files don't tile a dense span for p
    return merged


def stream_tranche(
    spark: SparkSession,
    tranche_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    on_batch: Callable[[int, dict], None] | None = None,
    decode_payload: bool = False,
    normalize: bool = False,
) -> None:
    """Stream one log tranche (single fixed schema) into ``table`` with an
    ``availableNow`` trigger; returns when the tranche is fully applied.

    ``decode_payload``/``normalize`` run on LWW winners only inside
    ``apply_batch`` (the encoded-ingest shape).

    Mirrors batch replay: each micro-batch's dense per-partition offset
    ranges are looked up from the manifest's per-file ranges
    (``_batch_ranges``), so foreachBatch runs the same locator LWW kernel + arithmetic offset bookkeeping as ``replay_log`` —
    no SortAggregate, no extra job on the hot path. Batches whose files
    aren't manifest-covered fall back to the ≤P-row ranges aggregate for
    their bookkeeping and the ``agg`` kernel.

    ``on_batch(epoch_id, stats)`` is a test hook (e.g. to crash mid-stream).
    """
    from mimic_iv_etl_spark.cdc.replay import _log_tail, _tranche_schema

    file_offsets = _tranche_file_offsets(tranche_dir)
    log_tail = _log_tail(os.path.dirname(tranche_dir.rstrip("/")))
    if not glob.glob(os.path.join(tranche_dir, "*.parquet")):
        raise FileNotFoundError(tranche_dir)
    schema = _tranche_schema(tranche_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")  # preserve per-partition offset order
        .parquet(tranche_dir)
    )
    late_decode = decode_payload and "payload" in src.columns
    if late_decode:
        src = src.drop("role", "text", "tool")
    elif "payload" in src.columns:
        src = src.drop("payload")

    def _apply(batch_df, epoch_id: int) -> None:
        ranges = None
        if file_offsets:
            ranges = _batch_ranges(_batch_files(checkpoint_dir, epoch_id),
                                   file_offsets)
        def _apply_once():
            return apply_batch(table, batch_df, batch_id=epoch_id,
                               decode_payload=late_decode,
                               normalize=normalize,
                               manifest_ranges=ranges,
                               log_tail=log_tail)

        try:
            stats = _apply_once()
        except CommitConflict:
            # online layout evolution under live ingest (mirrors replay_log):
            # a concurrent rebucket made the staged winners' bucket routing
            # stale; offsets only commit on success, so refreshing and
            # re-applying the micro-batch is idempotent and the stream
            # continues against the new layout.
            table.refresh()
            stats = _apply_once()
        if on_batch is not None:
            on_batch(epoch_id, stats)

    q = (
        src.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_log(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    checkpoint_root: str,
    schema=None,
    n_buckets: int = 32,
    max_files_per_trigger: int = 1,
    on_batch: Callable[[int, dict], None] | None = None,
    decode_payload: bool = False,
    normalize: bool = False,
) -> LakeTable:
    """Stream every tranche of the log in order (one streaming query per
    tranche, each with its own checkpoint — schema evolution happens at the
    tranche boundary, exactly as in batch replay)."""
    if LakeTable.exists(table_path):
        table = LakeTable(spark, table_path)
    else:
        if schema is None:
            raise ValueError("schema required to create a new table")
        table = LakeTable.create(spark, table_path, schema, n_buckets=n_buckets)
    for tranche in sorted(glob.glob(os.path.join(log_dir, "tranche-*"))):
        ckpt = os.path.join(checkpoint_root, os.path.basename(tranche))
        stream_tranche(
            spark,
            tranche,
            table,
            ckpt,
            max_files_per_trigger=max_files_per_trigger,
            on_batch=on_batch,
            decode_payload=decode_payload,
            normalize=normalize,
        )
        # per-tranche durability point: fold the driver-local lineage/metrics
        # JSONL tails into cluster-durable parquet (one tiny job, off the
        # per-batch hot path)
        from mimic_iv_etl_spark.cdc.metrics import flush_sidecars

        flush_sidecars(spark, table.path)
    return table
