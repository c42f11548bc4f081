"""Batch apply: change events → LakeTable, exactly-once, schema-evolving.

This is the engine's MERGE kernel, run per micro-batch (from the replay loop
or Structured Streaming ``foreachBatch``). Dataflow per batch:

1. **Exactly-once filter** — drop events whose ``(partition, offset)`` is at
   or below the table's committed ``applied_offsets`` (snapshot summary). A
   replayed/duplicated batch reduces to a metadata-only no-op commit, so
   foreachBatch retries and checkpoint restarts are idempotent.
2. **Schema evolution** — merge the batch's data schema into the table schema
   (union-by-name, int→long/float→double widening) *before* apply
   (SURVEY.md §4.3 item 5).
3. **LWW dedup** — one winner per ``(conv_id, turn_idx)`` by
   ``(ts, offset, partition)``, by one of two kernels chosen from the batch:
   ``locator`` (packed-stamp HashAggregate + exact bitmap fetch — no sort,
   no wide shuffle; :func:`_locator_winners`) whenever dense manifest ranges
   are present and fit its bit and driver budgets, else ``agg`` (skew-proof
   ``max_by`` partial aggregation; reference precedent:
   latest-record-per-key, ``feature_engineering.py:238-240``).
4. **Commit** — winners land as merge-on-read delta files (O(batch) IO),
   snapshot tagged with the updated applied-offset map; lineage rows
   (batch × source partition × offset range) and a throughput metrics row are
   appended.

Offset-range bookkeeping rides an aggregate the batch already runs:

- ``manifest_ranges`` — the log's manifest declares DENSE per-partition offset
  ranges (the WAL contract: offsets are a gapless per-partition sequence), so
  the applied ranges are pure window arithmetic and a fully-stale batch skips
  without any scan. The manifest is verified, not blindly trusted: on the
  ``locator`` kernel two per-key counters (rows, rows outside the declared
  ranges) ride the locator HashAggregate and are summed from its Arrow
  transfer; on the ``agg`` kernel the ranges aggregate below must reproduce
  the declared ranges exactly. Any mismatch aborts before the write.
- no manifest — the ≤P-row ``groupBy(partition)`` ranges aggregate runs first
  and IS the bookkeeping; a NULL partition or offset aborts before the
  write.

Either way the driver never sees data rows (contrast: the reference collects
key lists to the driver, ``ml_readmission_risk.ipynb`` cells 14/21/31,
SURVEY.md §2.12).

Which raw columns a batch contributes is decided here alone
(:func:`raw_columns`), for both ingest drivers.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_etl_spark.cdc.metrics import append_lineage, append_metrics
from mimic_iv_etl_spark.lake.merge import (PACK_MAX_OFFSET, PACK_MAX_PARTITION,
                                           lww_reduce, lww_winner_locators)
from mimic_iv_etl_spark.lake.schema import merge_schemas, schemas_equal
from mimic_iv_etl_spark.lake.table import BUCKET_COL, LakeTable

META_COLS = ("op", "offset", "partition", "payload")
# the columns a decoded JSON payload supplies (textfns.PAYLOAD_SCHEMA)
DECODED_COLS = ("role", "text", "tool")

# Arrow bytes per locator row on the driver: p, o and the two manifest
# counters, 8 B each after the pandas conversion
_LOCATOR_ROW_BYTES = 32


def raw_columns(columns: list[str], decode_payload: bool) -> list[str]:
    """The raw change-log columns a batch contributes — the one decision
    :func:`apply_batch` makes about its input. When ``decode_payload`` and
    the log carries a JSON ``payload``, the payload stands in for the raw
    role/text/tool (decoded from the winners only); otherwise the payload
    is left out. Column pruning then keeps whatever is left out from ever
    being scanned."""
    drop = (set(DECODED_COLS) if decode_payload and "payload" in columns
            else {"payload"})
    return [c for c in columns if c not in drop]


def _bigint_array_sql(values) -> str:
    """Per-partition constants as SQL: one string literal parsed into an
    ``array<bigint>`` constant. The expression stays three nodes for any
    partition count and constant-folds, so predicates built on it cost the
    same to build and to codegen at 8 or 8,000 partitions."""
    return f"CAST(split('{','.join(map(str, values))}', ',') AS array<bigint>)"


def _locator_supported(ranges: list[dict]) -> bool:
    """Whether the packed-stamp locator kernel's bit budget covers this
    batch's offset/partition coordinates (offset < 2^36, partition < 2^16).
    No partition-count cap: the bitmap probe indexes per-partition
    ``(lo, hi, base)`` lookup ARRAYS broadcast with the bitmap (``F.get``,
    pure codegen), not a chained ``when()`` per partition — a Kafka-style
    log with hundreds of source partitions stays on the fast path."""
    return bool(ranges) and all(
        0 <= r["partition"] < PACK_MAX_PARTITION
        and 0 <= r["min_offset"]
        and r["max_offset"] < PACK_MAX_OFFSET
        for r in ranges
    )


def _locator_winners(candidates: DataFrame, key_cols: list[str],
                     ranges: list[dict]) -> DataFrame:
    """LWW winners WITHOUT a wide aggregate or a wide shuffle.

    1. Winner locators ``(partition, offset)`` per key via the packed-stamp
       HashAggregate (`lake/merge.py::lww_winner_locators`) — the scan is
       column-pruned to keys+stamp, payloads never leave their scan. The
       same aggregate counts each key's rows and the rows OUTSIDE the
       declared ranges (NULL partition or offset, undeclared partition,
       offset outside its partition's ``[lo, hi]``) — the manifest
       cross-check.
    2. The locators land driver-side as one Arrow transfer — O(winners per
       batch), bounded by ``batch_offsets``, the same order of driver traffic
       as any broadcast-join build (this is the one deliberate driver
       round-trip in the apply path). Summing the two counters from it
       costs no job: any row outside the declared ranges, or a row count
       other than the dense ranges' size, aborts before anything is
       written.
    3. Because the WAL contract makes per-partition offsets DENSE, the
       locator set becomes an EXACT bitmap (1 bit per in-window offset — no
       hashing, no false positives). The bitmap — plus per-partition
       ``(lo, hi, base)`` lookup arrays indexed by partition id — becomes a
       1-row ``array<bigint>`` DataFrame built from an in-memory Arrow table
       (a ``LocalRelation``: nothing is written, so nothing needs cleaning
       up and executors need no shared storage to get it), broadcast onto
       the wide scan, and probed with ``F.get`` + ``element_at`` +
       ``getbit`` — a PURE-JVM codegen'd filter whose expression size is
       CONSTANT in the partition count (the first cut chained one ``when()``
       per partition, which hit codegen limits past 64 partitions and forced
       a fallback to the SortAggregate kernel — the array lookup removes
       that cap, so Kafka-style logs with hundreds of partitions stay on
       the fast path). An earlier cut probed via a pandas UDF; that queued
       every wide row behind the Python round-trip (ArrowEvalPython row
       queue) and stage metrics showed 58% of executor time in GC — the JVM
       probe removes Python from the wide path entirely, so only winner
       rows ever reach the decode/normalize UDFs.
    4. The filter passes exactly one row per key, so no further reduce runs.

    Driver memory peak ≈ winner locators (``_LOCATOR_ROW_BYTES``/winner) +
    the PACKED bitmap (window_bits/8 — built packed via ``bitwise_or.at``,
    never unpacked to byte-per-bit) + 3 lookup arrays (≤ 8 B × 2^16 each)
    — the quantity ``apply_batch`` pre-checks against
    ``locator_driver_budget``.
    """
    import numpy as np
    import pyarrow as pa

    by_p = {}
    total_bits = 0
    for r in sorted(ranges, key=lambda r: r["partition"]):
        by_p[r["partition"]] = (r["min_offset"], r["max_offset"], total_bits)
        total_bits += r["max_offset"] - r["min_offset"] + 1
    max_p = max(by_p)
    lo_arr = np.zeros(max_p + 1, dtype=np.int64)
    hi_arr = np.full(max_p + 1, -1, dtype=np.int64)
    base_arr = np.zeros(max_p + 1, dtype=np.int64)
    for p, (lo, hi, b) in by_p.items():
        lo_arr[p], hi_arr[p], base_arr[p] = lo, hi, b

    # `get` yields NULL for a NULL or out-of-array partition and BETWEEN is
    # NULL for a NULL offset; coalesce counts every such row as outside
    lo_sql, hi_sql = (_bigint_array_sql(a.tolist()) for a in (lo_arr, hi_arr))
    outside = (f"NOT coalesce(_lww_offset BETWEEN get({lo_sql}, _lww_partition)"
               f" AND get({hi_sql}, _lww_partition), false)")
    pdf = lww_winner_locators(candidates, key_cols, outside=outside).toPandas()
    n_total, n_out = int(pdf["n"].sum()), int(pdf["n_out"].sum())
    # dense ranges: the window's bit count IS the declared event count
    if n_out or n_total != total_bits:
        raise RuntimeError(
            "manifest_ranges cross-check failed — "
            f"{n_out} events outside the declared ranges (NULL partition, "
            "NULL offset, undeclared partition or offset outside its "
            f"[lo, hi]), {n_total} present vs {total_bits} declared; "
            "committing would desync applied_offsets from the "
            "actually-applied events")
    # every row is inside the declared ranges, so no winner stamp is NULL
    pi = pdf["p"].to_numpy()
    oi = pdf["o"].to_numpy()
    # build the bitmap PACKED (uint64 words) — peak memory window_bits/8,
    # matching the pre-flight budget; a byte-per-bit intermediate would
    # transiently cost 8× the budgeted size. Winner (p, o) pairs are
    # distinct rows, so indices are unique; bitwise_or.at handles the
    # many-bits-per-word collisions an unbuffered |= cannot.
    gidx = base_arr[pi] + (oi - lo_arr[pi])
    words_arr = np.zeros((total_bits + 63) // 64, dtype=np.uint64)
    np.bitwise_or.at(words_arr, gidx >> 6,
                     np.uint64(1) << (gidx & 63).astype(np.uint64))
    words = words_arr.view(np.int64)

    bm = candidates.sparkSession.createDataFrame(pa.table({
        "_bm": pa.array([words], type=pa.list_(pa.int64())),
        "_lo": pa.array([lo_arr], type=pa.list_(pa.int64())),
        "_hi": pa.array([hi_arr], type=pa.list_(pa.int64())),
        "_base": pa.array([base_arr], type=pa.list_(pa.int64())),
    }))
    # partition-count-independent probe, built as ONE server-side-parsed
    # SQL expression (chained Column ops cost ~2 ms of Py4J per call —
    # a real slice of the per-micro-batch fixed cost). Semantics:
    # `get` is 0-based and yields NULL for out-of-range/NULL indices, so
    # unknown partitions fail the lo/hi bounds without any ANSI error
    # (hi defaults to -1 for in-array but undeclared partitions);
    # try_element_at (not element_at) so a corrupt batch's out-of-window
    # bit index yields NULL→false instead of an ANSI index error if the
    # optimizer ever reorders the conjuncts. AND short-circuits left to
    # right, so the bit probe only runs on rows inside the window.
    gidx = ("(_lww_offset + (get(_base, _lww_partition)"
            " - get(_lo, _lww_partition)))")
    probe = F.expr(
        "get(_lo, _lww_partition) IS NOT NULL"
        " AND _lww_offset >= get(_lo, _lww_partition)"
        " AND _lww_offset <= get(_hi, _lww_partition)"
        f" AND getbit(try_element_at(_bm, CAST(shiftright({gidx}, 6)"
        f" AS int) + 1), pmod({gidx}, 64)) = 1")
    return (candidates.crossJoin(F.broadcast(bm))
            .filter(probe)
            .drop("_bm", "_lo", "_hi", "_base"))


def _hwm_filter(batch_df: DataFrame, applied: dict[int, int]) -> DataFrame:
    """Exactly-once row filter: keep events strictly beyond the committed
    per-partition high-water marks.

    One predicate for every partition count: the marks ride as a
    constant-folded ``map`` literal looked up with ``try_element_at``, so
    the expression, its codegen and its Py4J build cost stay constant
    however many partitions have committed. It is one ``F.expr`` over a
    server-side-parsed SQL string, not a chain of Column operators: each
    Column op is a Py4J round-trip (~2 ms), a per-micro-batch fixed cost.

    A partition with no mark is always fresh. A NULL partition or a NULL
    offset compares NULL, and ``coalesce`` keeps the row, so the
    bookkeeping downstream sees and rejects it instead of it silently
    vanishing here."""
    if not applied:
        return batch_df
    parts = sorted(applied)
    hwm = (f"map_from_arrays({_bigint_array_sql(parts)}, "
           f"{_bigint_array_sql(applied[p] for p in parts)})")
    return batch_df.filter(F.expr(
        f"coalesce(offset > try_element_at({hwm}, partition), true)"))


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    commit_noop: bool = False,
    write_salt: int = 1,
    decode_payload: bool = False,
    normalize: bool = False,
    manifest_ranges: dict[int, tuple[int, int]] | None = None,
    locator_driver_budget: int = 512 << 20,
    log_tail: dict[int, int] | None = None,
) -> dict:
    """Apply one micro-batch of change events to ``table``. Returns stats.

    A fully-stale batch (every event at or below the committed high-water
    marks — duplicate delivery / replay after restart) applies nothing; with
    ``commit_noop=True`` it still writes a metadata-only snapshot carrying the
    batch id (epoch audit trail), otherwise the table is left untouched.

    ``decode_payload=True`` decodes the JSON ``payload`` column into
    role/text/tool **after** LWW dedup — the winner per key is chosen by
    ``(ts, offset, partition)`` alone, so decoding losers is pure waste. At a
    typical change-log update ratio (≥10 events/key) this removes >90% of the
    JSON-parse work, which is the apply path's dominant CPU (and its worst
    scaler: allocation-heavy parsing contends at high core counts). The
    batch's raw role/text/tool are then ignored, and without decoding its
    ``payload`` is (:func:`raw_columns`), so callers pass the log as read.
    ``normalize=True`` likewise NFC-normalizes winner text only.

    The LWW kernel is chosen from the batch, and ``stats["dedup_mode"]``
    records which one ran. With ``manifest_ranges`` inside the packed
    stamp's bit budget and ``locator_driver_budget``, the ``locator`` kernel
    determines each key's winning row by a narrow packed-stamp HashAggregate
    and then fetches exactly those rows through an exact dense-offset bitmap
    probe — no sort, no wide aggregate, no payload bytes on any shuffle (see
    :func:`_locator_winners`). Otherwise the ``agg`` kernel runs
    (:func:`~mimic_iv_etl_spark.lake.merge.lww_reduce`: ``max_by`` with
    map-side partial combine, skew-proof).

    ``write_salt > 1`` splits each bucket's write across that many tasks by
    a hash of the full key — hot-conversation splitting on the write side.

    ``manifest_ranges`` — per-source-partition ``(min, max)`` offset ranges
    present in ``batch_df``, DENSE per the WAL contract (gapless per-partition
    sequences; ``changelog.py`` stamps ``dense_offsets: true``). With it the
    exactly-once bookkeeping is window arithmetic and a fully-stale batch is
    skipped without reading any data. The ranges are always verified before
    the write: a batch holding rows OUTSIDE them (NULL partition or offset,
    undeclared partition, offset past the declared hi) or MISSING rows they claim
    (truncated/corrupt file) would otherwise advance ``applied_offsets`` past
    never-applied events — silent data loss. The locator kernel counts both
    inside its own aggregate; the agg kernel compares the ranges
    aggregate against the declared ranges. Any mismatch aborts with nothing
    written.

    Without ``manifest_ranges`` a ≤P-row ``groupBy(partition)`` aggregate
    records whatever partitions the batch holds; a NULL partition or offset
    aborts before the write (it could never be recorded, so exactly-once
    would break on redelivery).

    ``locator_driver_budget`` bounds the locator kernel's one deliberate
    driver round-trip (winner locators + offset bitmap). The pre-flight
    bound ``events_in_window × _LOCATOR_ROW_BYTES + window_bits / 8`` is
    checked against it; a batch over budget (misconfigured huge
    ``batch_offsets``) runs the ``agg`` kernel instead of OOMing the
    driver.

    ``log_tail`` — per-source-partition FINAL offset of the log being
    consumed (replay: from the manifest; a live tail: the broker's
    end-offsets). With it the per-batch metrics row carries ``lag_events``
    = Σ max(0, tail_p − applied_hwm_p): the events still unconsumed after
    this commit — the backlog metric the north star's "throughput/lag
    metrics" asks for. Pure driver arithmetic, no extra work."""

    def _lag(applied_map) -> int | None:
        if log_tail is None:
            return None
        amap = {int(k): int(v) for k, v in applied_map.items()}
        return sum(
            max(0, int(hi) - amap.get(int(p), -1))
            for p, hi in log_tail.items()
        )
    t0 = time.monotonic()

    have = raw_columns(batch_df.columns, decode_payload)
    late_decode = "payload" in have
    data_fields = [f for f in batch_df.schema.fields
                   if f.name in have and f.name not in META_COLS]
    if late_decode:
        # decoded columns materialize post-dedup; declare them in the batch
        # schema so evolution/merge sees the final shape
        from mimic_iv_etl_spark.functions.textfns import PAYLOAD_SCHEMA

        data_fields += PAYLOAD_SCHEMA.fields
    batch_data_schema = type(table.schema)(data_fields)
    merged = merge_schemas(table.schema, batch_data_schema)
    evolved = not schemas_equal(merged, table.schema)

    applied = table.applied_offsets

    def _skipped_stats() -> dict:
        if commit_noop:
            table.commit_summary({"batch_id": batch_id, "operation": "noop_batch"})
        stats = {
            "batch_id": batch_id,
            "events_in": 0,
            "events_applied": 0,
            "winners": 0,
            "seconds": time.monotonic() - t0,
            "events_per_sec": 0.0,
            "touched_buckets": 0,
            "skipped": True,
            "snapshot_version": table.version,
            "lag_events": _lag(applied),
            "dedup_mode": None,
        }
        append_metrics(table.path, stats)
        return stats

    ranges: list[dict] | None = None
    if manifest_ranges is not None:
        # -- dense-offset arithmetic: applied range = window ∩ (hwm, ...] --
        ranges = []
        for p, (lo, hi) in sorted(manifest_ranges.items()):
            lo = max(int(lo), applied.get(int(p), -1) + 1)
            if lo <= int(hi):
                ranges.append({"partition": int(p), "events": int(hi) - lo + 1,
                               "min_offset": lo, "max_offset": int(hi)})
        if not ranges:
            return _skipped_stats()  # no scan, no job — resume is metadata-only

    # -- exactly-once: keep only offsets beyond the committed high-water mark --
    fresh = _hwm_filter(batch_df, applied)

    # -- LWW kernel, chosen from the batch: locator needs the dense-manifest
    # arithmetic ranges, the packed stamp's bit budget, and a bounded driver
    # transfer; outside them the agg kernel is the answer. Winners ≤ events
    # in the window, and the ranges are dense, so window_bits == events too.
    window = sum(r["events"] for r in ranges) if ranges else 0
    dedup_mode = ("locator" if ranges and _locator_supported(ranges)
                  and window * _LOCATOR_ROW_BYTES + window // 8
                  <= locator_driver_budget else "agg")

    if dedup_mode == "agg":
        # the single bookkeeping aggregate: per-source-partition ranges
        # (≤P rows) — with a manifest, its exact cross-check
        collected = (
            fresh.groupBy("partition")
            .agg(
                F.count("*").alias("events"),
                F.count("offset").alias("offsets"),
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
            )
            .collect()
        )
        for col, n_null in (
                ("partition", sum(r["events"] for r in collected
                                  if r["partition"] is None)),
                ("offset", sum(r["events"] - r["offsets"] for r in collected))):
            if n_null:
                raise RuntimeError(
                    f"batch {batch_id} holds {n_null} events with a NULL "
                    f"{col} — their offsets cannot be recorded, so "
                    "exactly-once would break on redelivery")
        observed = sorted(
            ({"partition": int(r["partition"]), "events": int(r["events"]),
              "min_offset": int(r["min_offset"]),
              "max_offset": int(r["max_offset"])} for r in collected),
            key=lambda r: r["partition"])
        if ranges is None:
            ranges = observed
            if not ranges:
                return _skipped_stats()
        elif observed != ranges:
            # the declared ranges are dense (events = hi - lo + 1), so the
            # same partitions, bounds and counts must come back
            want = {r["partition"]: r for r in ranges}
            got = {r["partition"]: r for r in observed}
            diff = sorted(p for p in want.keys() | got.keys()
                          if want.get(p) != got.get(p))
            raise RuntimeError(
                f"batch {batch_id}: manifest_ranges cross-check failed — "
                f"partitions {diff[:8]} differ from the declared dense "
                "ranges; committing would desync applied_offsets from the "
                "actually-applied events")
    events_applied = sum(r["events"] for r in ranges)
    new_applied = {str(p): o for p, o in applied.items()}
    for r in ranges:
        p = str(r["partition"])
        new_applied[p] = max(int(new_applied.get(p, -1)), int(r["max_offset"]))

    # -- internal candidate rows: data cols aligned to merged schema + stamps
    # (selectExpr over SQL strings — one Py4J call instead of ~5 per column)
    decode_names = set(DECODED_COLS) if late_decode else set()
    data_exprs = [
        (f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
         if f.name in have
         else f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`")
        for f in merged.fields
        if f.name not in decode_names
    ]
    if late_decode:
        data_exprs.append("`payload`")
    candidates = fresh.selectExpr(
        *data_exprs,
        "(op = 'D') AS _deleted",
        "CAST(offset AS bigint) AS _lww_offset",
        "CAST(partition AS int) AS _lww_partition",
    )
    if dedup_mode == "locator":
        winners = _locator_winners(candidates, table.key_cols, ranges)
    else:
        winners = lww_reduce(candidates, table.key_cols)
    if late_decode:
        from mimic_iv_etl_spark.functions.textfns import decode_payload_json

        winners = decode_payload_json(winners).selectExpr(
            *(f"`{c}`" for c in winners.columns if c != "payload"),
            *(f"{c}_decoded AS {c}" for c in DECODED_COLS))
    if normalize and "text" in winners.columns:
        from mimic_iv_etl_spark.functions.textfns import normalize_text

        winners = winners.withColumn("text", normalize_text(F.col("text")))
    winners = winners.withColumn(BUCKET_COL, table.bucket_expr())
    table.append_delta(
        winners,
        new_schema=merged if evolved else None,
        summary={"applied_offsets": new_applied, "batch_id": batch_id},
        write_salt=write_salt,
    )

    new_files = table.last_new_entries
    n_winners = sum(e.get("rows", 0) for e in new_files)
    touched = {e["bucket"] for e in new_files}

    secs = time.monotonic() - t0
    stats = {
        "batch_id": batch_id,
        "events_in": int(events_applied),
        "events_applied": int(events_applied),
        "winners": int(n_winners),
        "seconds": secs,
        "events_per_sec": events_applied / secs if secs > 0 else float("inf"),
        "touched_buckets": len(touched),
        "skipped": False,
        "snapshot_version": table.version,
        "lag_events": _lag(new_applied),
        "dedup_mode": dedup_mode,
    }
    append_metrics(table.path, stats)
    append_lineage(
        table.path,
        [
            {
                "batch_id": batch_id,
                "partition": int(r["partition"]),
                "min_offset": int(r["min_offset"]),
                "max_offset": int(r["max_offset"]),
                "events": int(r["events"]),
                "snapshot_version": table.version,
            }
            for r in ranges
        ],
    )
    return stats
