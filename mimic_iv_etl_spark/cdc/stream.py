"""Structured Streaming shell: tail the change log → foreachBatch apply.

The production shape mandated by the north star: ``readStream`` over the
change log (file source here; Kafka-shaped in design — both deliver
per-source-partition offset order), ``foreachBatch(apply_batch)`` as the
exactly-once MERGE sink, offsets checkpointed via ``checkpointLocation``.

It shares every ingest step with batch replay (``replay.py``) except how
batches are cut — here, ``maxFilesPerTrigger`` whole files per micro-batch:
the log is read once by :func:`~mimic_iv_etl_spark.cdc.changelog.read_manifest`
(each tranche gets its entry; each micro-batch's dense offset ranges come
from the entry's per-file ranges); the table open-or-create and the
layout-conflict reapply are ``replay.py``'s, the raw column choice
``apply.py``'s.

Two independent layers make restart exactly-once:
- Spark's streaming checkpoint replays unacknowledged source batches;
- the table's ``applied_offsets`` snapshot summary turns any re-delivered
  event into a row-level no-op (``apply.py``), covering the window where a
  batch committed to the table but the checkpoint wasn't advanced yet.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from mimic_iv_etl_spark.cdc.apply import apply_batch, raw_columns
from mimic_iv_etl_spark.cdc.changelog import (Tranche, _tranche_schema,
                                              read_manifest)
from mimic_iv_etl_spark.cdc.replay import apply_retrying, open_table
from mimic_iv_etl_spark.lake.table import LakeTable


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
    meta: Tranche,
    log_tail: dict[int, int] | None,
    table: LakeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    on_batch: Callable[[int, dict], None] | None = None,
    decode_payload: bool = False,
    normalize: bool = False,
) -> None:
    """Stream one log tranche (single fixed schema; ``meta`` is its
    :func:`read_manifest` entry, ``log_tail`` the log's) into ``table`` with
    an ``availableNow`` trigger; returns when the tranche is fully applied.

    ``decode_payload``/``normalize`` run on LWW winners only inside
    ``apply_batch`` (the encoded-ingest shape).

    Mirrors batch replay: each micro-batch's dense per-partition offset
    ranges are looked up from the manifest's per-file ranges
    (``_batch_ranges``), so foreachBatch runs the same locator LWW kernel +
    arithmetic offset bookkeeping as ``replay_log`` — no SortAggregate, no
    extra job on the hot path. Batches whose files aren't manifest-covered
    fall back to the ≤P-row ranges aggregate for their bookkeeping and the
    ``agg`` kernel.

    ``on_batch(epoch_id, stats)`` is a test hook (e.g. to crash mid-stream).
    """
    src = (
        spark.readStream.schema(_tranche_schema(tranche_dir))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")  # preserve per-partition offset order
        .parquet(tranche_dir)
    )
    # foreachBatch hands each micro-batch over as an opaque RDD scan, so
    # column pruning cannot reach back into this source: project it to the
    # raw columns apply_batch will use
    src = src.select(*raw_columns(src.columns, decode_payload))

    def _apply(batch_df, epoch_id: int) -> None:
        ranges = None
        if meta.file_offsets:
            ranges = _batch_ranges(_batch_files(checkpoint_dir, epoch_id),
                                   meta.file_offsets)

        def _apply_once():
            return apply_batch(table, batch_df, batch_id=epoch_id,
                               decode_payload=decode_payload,
                               normalize=normalize,
                               manifest_ranges=ranges,
                               log_tail=log_tail)

        stats, _ = apply_retrying(table, _apply_once)
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
    tranche boundary, exactly as in batch replay). A log with no tranche
    raises FileNotFoundError before any table is opened."""
    log = read_manifest(log_dir)
    table = open_table(spark, table_path, schema, n_buckets)
    for tranche, meta in log.items():
        ckpt = os.path.join(checkpoint_root, os.path.basename(tranche))
        stream_tranche(
            spark,
            tranche,
            meta,
            log.tail,
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
