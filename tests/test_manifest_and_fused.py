"""Round-3 apply-path mechanics: manifest-driven arithmetic offset
bookkeeping, the locator LWW kernel and its fallback to agg, the
literal-predicate exactly-once filter, the manifest reader, and sidecar
auto-flush.

All end-state assertions go through the independent DuckDB oracle
(``cdc/oracle.py``) — the same per-turn text-equality gate as the rest of the
apply E2E suite.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

import mimic_iv_etl_spark.cdc.apply as apply_mod
from mimic_iv_etl_spark.cdc.apply import apply_batch
from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log
from mimic_iv_etl_spark.cdc.metrics import read_lineage, read_metrics
from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.cdc.replay import replay_log
from mimic_iv_etl_spark.lake.merge import lww_reduce
from mimic_iv_etl_spark.lake.table import LakeTable
from tests.util import (TRANSCRIPT_SCHEMA, _py4j_commands,
                        assert_final_state_equal)


def test_replay_uses_manifest_arithmetic_and_matches_oracle(
        spark, small_log, tmp_path):
    """The generator's manifest carries dense per-partition offset ranges, so
    the whole replay does its exactly-once bookkeeping with no extra job
    (the cross-check rides the locator aggregate) — and still lands
    oracle-equal state with exact per-partition lineage. The manifest
    selects the packed-stamp locator kernel, so this run IS the locator
    correctness gate (ties, late arrivals, deletes, hot keys — all through
    the independent oracle)."""
    d, spec, manifest = small_log
    assert all(t["dense_offsets"] for t in manifest["tranches"])
    tp = str(tmp_path / "t_manifest")
    out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,
                     batch_offsets=700, n_buckets=8)
    assert out["events_applied"] == spec.n_events
    tbl = LakeTable(spark, tp)
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    # lineage: arithmetic ranges must equal the data's actual ranges
    lin = read_lineage(spark, tbl.path).toPandas()
    assert int(lin["events"].sum()) == spec.n_events
    data = spark.read.parquet(*sorted(glob.glob(f"{d}/tranche-*")))
    actual = {int(r["partition"]): int(r["hi"]) for r in
              data.groupBy("partition").agg(F.max("offset").alias("hi")).collect()}
    assert tbl.applied_offsets == actual

    # resume: a second replay is pure metadata — no new snapshot, no scan jobs
    v = tbl.version
    out2 = replay_log(spark, d, tp, batch_offsets=700)
    assert out2["events_applied"] == 0
    assert out2["batches"] == 0
    assert LakeTable(spark, tp).version == v


def test_locator_kernel_is_hash_aggregate_and_matches_agg(spark, small_log):
    """The packed-stamp winner-locator plan must be a HashAggregate (the
    wide max_by struct kernel silently degrades to SortAggregate — the r2
    scaling killer), and its locator set must equal the classic agg plan's
    winners exactly."""
    from mimic_iv_etl_spark.lake.merge import lww_winner_locators

    d, _, _ = small_log
    log = spark.read.parquet(*sorted(glob.glob(f"{d}/tranche-*")))
    cand = log.select(
        "conv_id", "turn_idx", "ts",
        (F.col("op") == "D").alias("_deleted"),
        F.col("offset").cast("long").alias("_lww_offset"),
        F.col("partition").cast("int").alias("_lww_partition"))

    locs = lww_winner_locators(cand, ["conv_id", "turn_idx"])
    plan = locs._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan

    got = {(r["p"], r["o"]) for r in locs.collect()}
    agg = lww_reduce(cand, ["conv_id", "turn_idx"])
    want = {(r["_lww_partition"], r["_lww_offset"]) for r in agg.collect()}
    assert got == want


def test_locator_resume_with_different_windows(spark, small_log, tmp_path):
    """Crash/resume where the second replay slices the offset space into
    DIFFERENT micro-batch windows: every window partially overlaps applied
    state, so the locator bitmap must be built from hwm-clipped ranges and
    the hwm row filter must agree with it exactly — any drift double-applies
    or drops rows and the oracle equality below fails."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tp = str(tmp_path / "t_rewin")
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    # first pass: one locator batch covering only offsets [0, 1100) — the
    # table is left mid-window relative to the 700-wide replay below
    window0 = {}
    for p, (lo, hi) in read_manifest(d)[tranche].partition_offsets.items():
        if lo < 1100:
            window0[p] = (lo, min(hi, 1099))
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    df = spark.read.parquet(tranche).drop("payload")
    stats1 = apply_batch(tbl, df.filter(F.col("offset") < 1100), batch_id=0,
                         manifest_ranges=window0)
    assert stats1["dedup_mode"] == "locator"
    assert 0 < stats1["events_applied"] < spec.n_events
    # resume with 700-wide windows: window [700, 1400) straddles the
    # committed high-water marks — 700..1099 stale, 1100..1399 fresh
    out2 = replay_log(spark, d, tp, batch_offsets=700)
    assert stats1["events_applied"] + out2["events_applied"] == spec.n_events
    assert_final_state_equal(LakeTable(spark, tp).read(), duckdb_final_state(d))
    # applied exactly once: lineage events sum to the log size
    lin = read_lineage(spark, tp).toPandas()
    assert int(lin["events"].sum()) == spec.n_events


def test_locator_bit_budget_fallback():
    from mimic_iv_etl_spark.cdc.apply import _locator_supported

    ok = [{"partition": 3, "min_offset": 0, "max_offset": 10_000}]
    assert _locator_supported(ok)
    assert not _locator_supported([])
    assert not _locator_supported(
        [{"partition": 70_000, "min_offset": 0, "max_offset": 10}])
    assert not _locator_supported(
        [{"partition": 0, "min_offset": 0, "max_offset": 1 << 37}])


@pytest.mark.parametrize("n_partitions,min_marks", [(4, 4), (80, 65)],
                         ids=["small_log", "80_partitions"])
def test_hwm_filter_exactly_once_at_any_partition_count(
        spark, small_log, tmp_path, n_partitions, min_marks):
    """Exactly-once row filtering through the one hwm predicate, at 4
    committed partitions and at more than 64: three overlapping batches
    apply each event once and land oracle-equal state."""
    d = small_log[0]
    if n_partitions != 4:
        d = str(tmp_path / "log_hwm")
        generate_change_log(d, ChangeLogSpec(
            n_events=8_000, n_convs=250, n_partitions=n_partitions, seed=13))
    log = spark.read.parquet(*sorted(glob.glob(f"{d}/tranche-*"))).drop("payload")
    tbl = LakeTable.create(spark, str(tmp_path / "t_hwm"), TRANSCRIPT_SCHEMA,
                           n_buckets=4)
    apply_batch(tbl, log.filter(F.col("offset") < 900), batch_id=0)
    assert len(tbl.applied_offsets) >= min_marks
    fresh = log.filter((F.col("offset") >= 900) & (F.col("offset") < 1400)).count()
    stats = apply_batch(tbl, log.filter(F.col("offset") < 1400), batch_id=1)
    assert stats["events_applied"] == fresh > 0
    apply_batch(tbl, log, batch_id=2)
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_hwm_filter_builds_in_constant_py4j_calls(spark):
    """The hwm filter is one predicate over a constant-folded map literal:
    building it sends the same number of Py4J commands at 8 and at 512
    committed partitions, plans no join, and keeps exactly the rows past
    their partition's mark plus the NULLs the bookkeeping must reject."""
    from mimic_iv_etl_spark.cdc.apply import _hwm_filter

    rows = [(p, o) for p in (None, 0, 3, 7, 511, 512, 70_000)
            for o in (None, -1, 9, 10, 11)]
    df = spark.createDataFrame(rows, "partition int, offset bigint")
    marks = {n: {p: 10 for p in range(n)} for n in (8, 512)}
    small, wide = (_py4j_commands(spark, lambda m=m: _hwm_filter(df, m))
                   for m in marks.values())
    assert small == wide, (small, wide)
    out = _hwm_filter(df, marks[512])
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert {tuple(r) for r in out.collect()} == {
        (p, o) for p, o in rows if p not in marks[512] or o is None or o > 10}


def test_replay_autoflushes_sidecars(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t_flush")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=1_000,
               n_buckets=4)
    flushed = glob.glob(os.path.join(tp, "_metrics", "flushed", "*.parquet"))
    assert flushed, "replay_log must leave lineage/metrics cluster-durable"
    met = read_metrics(spark, tp).toPandas()
    assert int(met["events_applied"].sum()) == spec.n_events
    # and the live JSONL tail was folded in (no double counting)
    assert not os.path.exists(os.path.join(tp, "_metrics", "metrics.jsonl"))


def test_locator_driver_budget_falls_back_to_agg(spark, small_log, tmp_path,
                                                 monkeypatch):
    """VERDICT r03 item 5: a batch whose estimated locator driver transfer
    (winner locators + offset bitmap) exceeds the driver budget must
    degrade to the agg kernel — same oracle-exact final state — instead of
    risking a driver OOM."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    df = spark.read.parquet(tranche).drop("payload")
    tp = str(tmp_path / "t_budget")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    monkeypatch.setattr(apply_mod, "_LOCATOR_DRIVER_BUDGET", 1024)
    stats = apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
    assert stats["dedup_mode"] == "agg"
    assert stats["events_applied"] == spec.n_events
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_locator_handles_more_than_64_partitions(spark, tmp_path):
    """VERDICT r04 item 1: a Kafka-style log with hundreds of source
    partitions must STAY on the locator fast path. The bitmap probe indexes
    broadcast (lo, hi, base) lookup arrays (constant-size expression) instead
    of chaining one when() per partition, so the old 64-partition codegen cap
    is gone: with 80 partitions the apply must report dedup_mode='locator',
    the probe plan must be a broadcast with no per-partition CASE chain, and
    the final state must match the independent DuckDB oracle."""
    from mimic_iv_etl_spark.cdc.apply import (_locator_supported,
                                              _locator_winners)
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    many = [{"partition": p, "min_offset": 0, "max_offset": 10}
            for p in range(300)]
    assert _locator_supported(many)

    d = str(tmp_path / "log_manyparts")
    spec = ChangeLogSpec(n_events=8_000, n_convs=250, n_partitions=80, seed=11)
    generate_change_log(d, spec)
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    assert len(ranges) == 80
    df = spark.read.parquet(tranche).drop("payload")
    tp = str(tmp_path / "t_manyparts")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    stats = apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
    assert stats["dedup_mode"] == "locator"
    assert stats["events_applied"] == spec.n_events
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    # plan shape: probe is a broadcast join + array-lookup filter whose
    # expression size does not grow with the partition count
    rlist = [{"partition": p, "min_offset": lo, "max_offset": hi}
             for p, (lo, hi) in sorted(ranges.items())]
    cand = df.select(
        "conv_id", "turn_idx", "ts",
        (F.col("op") == "D").alias("_deleted"),
        F.col("offset").cast("long").alias("_lww_offset"),
        F.col("partition").cast("int").alias("_lww_partition"))
    winners = _locator_winners(cand, ["conv_id", "turn_idx"], rlist)
    plan = winners._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan
    assert plan.count("CASE WHEN") < 5, "per-partition when() chain is back"
    # exactly one winner per key present in the batch (deletes included)
    assert winners.count() == df.select("conv_id", "turn_idx").distinct().count()


def test_manifest_validation_aborts_on_missing_offsets(spark, small_log,
                                                       tmp_path):
    """ADVICE r03 (medium): manifest_ranges claiming offsets the data does
    not contain (truncated/corrupt file) must abort BEFORE commit — silently
    advancing applied_offsets past never-applied events is undetectable data
    loss. Staged files are discarded; the table stays untouched."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    p0 = min(ranges)
    ranges[p0] = (ranges[p0][0], ranges[p0][1] + 500)  # 500 phantom offsets
    df = spark.read.parquet(tranche).drop("payload")
    tp = str(tmp_path / "t_val_missing")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    v0 = tbl.version
    with pytest.raises(RuntimeError, match="cross-check"):
        apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
    tbl2 = LakeTable(spark, tp)
    assert tbl2.version == v0
    assert tbl2.applied_offsets == {}
    assert tbl2.read().count() == 0
    # ADVICE r04: the abort path must not leak a staging dir, and
    # must leave no session-global listener state (Spark's lazily-built
    # observation manager stays unset) — otherwise later jobs capturing the
    # session die with NotSerializableException
    staging = os.path.join(tp, "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)
    jss = spark._jsparkSession  # noqa: SLF001
    fld = jss.getClass().getDeclaredField("observationManager")
    fld.setAccessible(True)
    assert fld.get(jss) is None


def test_manifest_validation_range_exact_above_predicate_cap(spark, tmp_path,
                                                            monkeypatch):
    """ADVICE r04: at 80 partitions (the name keeps the 64-partition cap an
    earlier predicate had; no path depends on the partition count now) the
    manifest validation must stay RANGE-exact, not degrade to
    membership-plus-count. Corruption scenario: one in-range row missing
    and one out-of-range row added in the same declared partition —
    n_total matches and partition membership passes, so a membership-only
    check would commit a desynced applied_offsets map. Exercised on the agg
    kernel, reached with a zero locator driver budget (no driver-side
    winner cross-check to catch it instead)."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d = str(tmp_path / "log_valcap")
    spec = ChangeLogSpec(n_events=8_000, n_convs=250, n_partitions=80, seed=13)
    generate_change_log(d, spec)
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    assert len(ranges) > 64
    p0 = min(ranges)
    lo0, hi0 = ranges[p0]
    df = spark.read.parquet(tranche).drop("payload")
    moved = (df.filter((F.col("partition") == p0) & (F.col("offset") == lo0))
             .withColumn("offset", F.lit(hi0 + 1).cast("long")))
    bad = (df.filter(~((F.col("partition") == p0) & (F.col("offset") == lo0)))
           .unionByName(moved))
    assert bad.count() == df.count()  # counts cancel — the trap
    tp = str(tmp_path / "t_valcap")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    monkeypatch.setattr(apply_mod, "_LOCATOR_DRIVER_BUDGET", 0)
    with pytest.raises(RuntimeError, match="cross-check"):
        apply_batch(tbl, bad, batch_id=0, manifest_ranges=ranges)
    tbl2 = LakeTable(spark, tp)
    assert tbl2.applied_offsets == {}
    assert tbl2.read().count() == 0


def test_manifest_validation_aborts_on_undeclared_partition(spark, small_log,
                                                            tmp_path,
                                                            monkeypatch):
    """Rows from a partition absent from manifest_ranges must abort, not be
    silently dropped (locator) or applied-but-unrecorded (agg)."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    del ranges[max(ranges)]  # data still holds this partition's rows
    df = spark.read.parquet(tranche).drop("payload")
    # the default budget selects locator; a zero budget forces agg
    for mode in ("locator", "agg"):
        if mode == "agg":
            monkeypatch.setattr(apply_mod, "_LOCATOR_DRIVER_BUDGET", 0)
        tp = str(tmp_path / f"t_val_undecl_{mode}")
        tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
        with pytest.raises(RuntimeError, match="cross-check"):
            apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
        tbl2 = LakeTable(spark, tp)
        assert tbl2.applied_offsets == {}
        assert tbl2.read().count() == 0


def test_read_manifest_agrees_with_writer_and_footer_fallback(tmp_path):
    """The generator and the one reader agree on the log: read_manifest
    returns the tranche bounds, dense partition ranges, per-file ranges and
    log tail the generator wrote. The same manifest stripped of those fields
    reads as the footer fallback: footer-swept bounds, no ranges, no tail."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d = str(tmp_path / "log_reader")
    generate_change_log(d, ChangeLogSpec(n_events=3_000, n_convs=120,
                                         n_partitions=3, seed=21,
                                         evolve_at=0.5))
    written = read_manifest(d)
    assert len(written) == 2 and written.tail
    for t in written.values():
        assert t.partition_offsets and t.file_offsets
    assert written.tail == {
        p: max(t.partition_offsets[p][1] for t in written.values()
               if p in t.partition_offsets)
        for p in range(3)}

    mpath = os.path.join(d, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for t in manifest["tranches"]:
        for k in ("offset_lo", "offset_hi", "partitions", "partition_offsets",
                  "dense_offsets", "file_offsets"):
            t.pop(k)
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    stripped = read_manifest(d)
    assert stripped.tail is None
    for tranche, t in stripped.items():
        assert (t.offset_lo, t.offset_hi) == (written[tranche].offset_lo,
                                              written[tranche].offset_hi)
        assert t.partition_offsets is None and t.file_offsets is None


def test_lag_metric_drains_to_zero(spark, small_log, tmp_path):
    """The per-batch metrics row carries lag_events = Σ max(0, log tail −
    applied hwm): strictly decreasing across a replay and exactly 0 after
    the final commit (north star: throughput/lag metrics)."""
    d, spec, _ = small_log
    tp = str(tmp_path / "t_lag")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=700,
               n_buckets=4)
    rows = (read_metrics(spark, tp)
            .orderBy("batch_id").select("lag_events").collect())
    lags = [r["lag_events"] for r in rows]
    assert all(v is not None for v in lags)
    assert lags == sorted(lags, reverse=True)
    assert lags[0] > 0 and lags[-1] == 0
    # each batch's lag drop equals exactly the events it applied
    applied = [r["events_applied"] for r in
               read_metrics(spark, tp).orderBy("batch_id")
               .select("events_applied").collect()]
    assert lags[0] == spec.n_events - applied[0]
    for prev, cur, n in zip(lags, lags[1:], applied[1:]):
        assert prev - cur == n
