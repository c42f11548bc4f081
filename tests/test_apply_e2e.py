"""End-to-end: change-log replay through apply_batch == independent oracle.

This is the north-rule correctness gate: per-turn text equality under stable
(conv_id, turn_idx) ordering after full-log replay, including LWW ties,
late arrivals, deletes, hot-key skew, and (separately) schema evolution.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_etl_spark.cdc.apply import apply_batch
from mimic_iv_etl_spark.cdc.metrics import read_lineage, read_metrics
from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.lake.table import LakeTable
from tests.util import TRANSCRIPT_SCHEMA, assert_final_state_equal


def _load_log(spark, log_dir):
    import glob

    dirs = sorted(glob.glob(f"{log_dir}/tranche-*"))
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def _batches(df, n_batches, n_partitions, total):
    """Deterministic micro-batches: contiguous per-partition offset windows."""
    max_off = df.agg(F.max("offset")).collect()[0][0]
    per = -(-(max_off + 1) // n_batches)
    return [
        df.filter((F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per))
        for i in range(n_batches)
    ]


@pytest.mark.parametrize("kernel", ["agg", "locator"])
def test_single_batch_replay_matches_oracle(spark, small_log, tmp_path, kernel):
    """The LWW kernel follows the input: without manifest ranges the batch
    runs ``agg``; with the log's dense per-partition ranges it runs
    ``locator``. Both land the oracle state."""
    d, spec, manifest = small_log
    ranges = None
    if kernel == "locator":
        (tranche,) = manifest["tranches"]  # small_log has no evolution point
        ranges = {int(p): (int(lo), int(hi))
                  for p, (lo, hi) in tranche["partition_offsets"].items()}
    tbl = LakeTable.create(spark, str(tmp_path / f"t_{kernel}"), TRANSCRIPT_SCHEMA, n_buckets=8)
    stats = apply_batch(tbl, _load_log(spark, d).drop("payload"), batch_id=0,
                        manifest_ranges=ranges)
    assert stats["dedup_mode"] == kernel
    assert stats["events_applied"] == spec.n_events
    assert stats["winners"] > 0
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_multi_batch_replay_matches_oracle(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tbl = LakeTable.create(spark, str(tmp_path / "t_multi"), TRANSCRIPT_SCHEMA, n_buckets=8)
    log = _load_log(spark, d).drop("payload")
    applied = 0
    for i, b in enumerate(_batches(log, 5, spec.n_partitions, spec.n_events)):
        applied += apply_batch(tbl, b, batch_id=i)["events_applied"]
    assert applied == spec.n_events
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    # compaction must not change visible state
    tbl.compact()
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    # lineage covers every (batch, partition) range; metrics one row per batch
    lin = read_lineage(spark, tbl.path).toPandas()
    assert lin["events"].sum() == spec.n_events
    assert set(lin["partition"]) == set(range(spec.n_partitions))
    met = read_metrics(spark, tbl.path).toPandas()
    assert len(met) == 5 and (met["events_per_sec"] > 0).all()

    # flushing sidecars to parquet segments (cluster-durable table sink) must
    # not change what reads return, and the JSONL tail restarts fresh
    from mimic_iv_etl_spark.cdc.metrics import append_metrics, flush_sidecars

    flush_sidecars(tbl.path)
    assert read_lineage(spark, tbl.path).count() == len(lin)
    assert read_metrics(spark, tbl.path).count() == len(met)
    append_metrics(tbl.path, {"batch_id": 99, "events_in": 0, "events_applied": 0,
                              "winners": 0, "seconds": 0.1, "events_per_sec": 0.0,
                              "touched_buckets": 0, "skipped": True})
    assert read_metrics(spark, tbl.path).count() == len(met) + 1  # union of both
    flush_sidecars(tbl.path)
    assert read_metrics(spark, tbl.path).count() == len(met) + 1


def test_reapply_is_idempotent_noop(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tbl = LakeTable.create(spark, str(tmp_path / "t_idem"), TRANSCRIPT_SCHEMA, n_buckets=8)
    log = _load_log(spark, d).drop("payload")
    batches = _batches(log, 3, spec.n_partitions, spec.n_events)
    for i, b in enumerate(batches):
        apply_batch(tbl, b, batch_id=i)
    v = tbl.version
    files_before = [e["path"] for e in tbl.files]

    # replay batch 1 (duplicate delivery / foreachBatch retry) → no-op
    stats = apply_batch(tbl, batches[1], batch_id=99)
    assert stats["skipped"] and stats["events_applied"] == 0
    assert tbl.version == v  # table untouched
    assert [e["path"] for e in tbl.files] == files_before
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_partial_overlap_applies_only_new_offsets(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tbl = LakeTable.create(spark, str(tmp_path / "t_overlap"), TRANSCRIPT_SCHEMA, n_buckets=8)
    log = _load_log(spark, d).drop("payload")
    half = log.filter(F.col("offset") < 1000)
    apply_batch(tbl, half, batch_id=0)
    # overlapping redelivery: offsets 0..1500 — only 1000..1500 are new
    stats = apply_batch(tbl, log.filter(F.col("offset") < 1500), batch_id=1)
    assert stats["events_applied"] == log.filter(
        (F.col("offset") >= 1000) & (F.col("offset") < 1500)
    ).count()
    apply_batch(tbl, log, batch_id=2)
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_schema_evolution_mid_log(spark, evolved_log, tmp_path):
    d, spec, _ = evolved_log
    tbl = LakeTable.create(spark, str(tmp_path / "t_evo"), TRANSCRIPT_SCHEMA, n_buckets=8)
    # tranche-0: base schema; tranche-1: + tool_version, + latency_ms
    t0 = spark.read.parquet(f"{d}/tranche-0").drop("payload")
    t1 = spark.read.parquet(f"{d}/tranche-1").drop("payload")
    apply_batch(tbl, t0, batch_id=0)
    assert [f.name for f in tbl.schema.fields] == [f.name for f in TRANSCRIPT_SCHEMA.fields]
    apply_batch(tbl, t1, batch_id=1)
    names = [f.name for f in tbl.schema.fields]
    assert names[-2:] == ["tool_version", "latency_ms"]
    assert tbl.schema["latency_ms"].dataType.simpleString() == "bigint"
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_ranges_aggregate_mode_matches_oracle_and_skips_stale(
        spark, small_log, tmp_path):
    """No manifest: the ≤P-row ranges aggregate is the offset bookkeeping.
    Oracle-equal state; stale redelivery → skipped no-op with nothing
    committed or staged; the session stays usable for MLlib afterwards."""
    d, spec, _ = small_log
    tbl = LakeTable.create(spark, str(tmp_path / "t_obs"), TRANSCRIPT_SCHEMA,
                           n_buckets=8)
    log = _load_log(spark, d).drop("payload")

    stats = apply_batch(tbl, log, batch_id=1)
    assert stats["events_applied"] == spec.n_events
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    v = tbl.version
    stats2 = apply_batch(tbl, log, batch_id=2)
    assert stats2["skipped"] and stats2["events_applied"] == 0
    assert tbl.refresh().version == v, "stale redelivery must not commit"
    assert tbl.vacuum(grace_seconds=0.0)["data_files"] == 0

    # a job whose task closure captures the SparkSession (every pyspark.ml
    # model transform) must still run after an apply: the apply path leaves
    # no session-global state behind
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    df = spark.range(200).select(
        (F.col("id") % 2 * 1.0).alias("x1"),
        (F.col("id") % 2).cast("int").alias("label"))
    feats = VectorAssembler(inputCols=["x1"], outputCol="features").transform(df)
    model = LogisticRegression(labelCol="label", maxIter=5).fit(feats)
    assert model.transform(feats).groupBy("prediction").count().count() == 2


@pytest.mark.parametrize("mode,null_col", [
    (m, c) for c in ("partition", "offset") for m in ("locator", "agg")])
def test_null_partition_aborts_before_write(spark, small_log, tmp_path, mode,
                                            null_col):
    """A NULL source partition or offset can never be recorded in
    applied_offsets, so the batch must abort with an error naming it —
    before any write — on both bookkeeping paths: the locator counters
    (with a manifest) and the ranges aggregate (without one). The NULL
    offset lands in a partition that already has a high-water mark, where
    the exactly-once filter must pass it on rather than drop it."""
    import glob

    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    df = spark.read.parquet(tranche).drop("payload")
    ranges = read_manifest(d)[tranche].partition_offsets
    tp = str(tmp_path / f"t_null_{null_col}_{mode}")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    if null_col == "offset":
        # commit the first 900 offsets of every partition: each has an hwm
        first = {p: (lo, min(hi, 899)) for p, (lo, hi) in ranges.items()}
        apply_batch(tbl, df.filter(F.col("offset") < 900), batch_id=0,
                    manifest_ranges=first if mode == "locator" else None)
    stray = (df.limit(1)
             .withColumn("conv_id", F.lit(f"conv-null-{null_col}"))
             .withColumn(null_col, F.lit(None).cast(df.schema[null_col].dataType)))
    batch = df.unionByName(stray)
    v0, applied0 = tbl.version, tbl.applied_offsets
    with pytest.raises(RuntimeError, match=f"NULL {null_col}"):
        apply_batch(tbl, batch, batch_id=1,
                    manifest_ranges=ranges if mode == "locator" else None)
    tbl2 = LakeTable(spark, tp)
    assert tbl2.version == v0
    assert tbl2.applied_offsets == applied0
    assert tbl2.vacuum(grace_seconds=0.0)["data_files"] == 0


def test_flush_sidecars_leaves_live_claims_alone(spark, tmp_path):
    """ADVICE r05: the crash-leftover sweep must not steal a LIVE concurrent
    flusher's claim (a young .flushing-* file) — only claims older than the
    grace window are reclaimed."""
    import json
    import os
    import time

    from mimic_iv_etl_spark.cdc.metrics import (append_metrics, flush_sidecars,
                                                read_metrics)

    tdir = str(tmp_path / "t_flush")
    row = {"batch_id": 1, "events_in": 1, "events_applied": 1, "winners": 1,
           "seconds": 0.1, "events_per_sec": 10.0, "touched_buckets": 1,
           "skipped": False}
    append_metrics(tdir, row)
    jsonl = os.path.join(tdir, "_metrics", "metrics.jsonl")
    # simulate a concurrent flusher mid-flush: a freshly-claimed tail
    live_claim = jsonl + ".flushing-livelive"
    os.replace(jsonl, live_claim)
    flush_sidecars(tdir)
    assert os.path.exists(live_claim), "live claim must not be stolen"
    # age it past the grace window → a later sweep reclaims it
    old = time.time() - 120
    os.utime(live_claim, (old, old))
    flush_sidecars(tdir)
    assert not os.path.exists(live_claim)
    got = read_metrics(spark, tdir).toPandas()
    assert len(got) == 1 and int(got["batch_id"][0]) == 1


def _warm_apply_py4j(spark, small_log, path, extra_cols: int = 0,
                     kernel: str = "locator") -> int:
    """Py4J commands the calling thread sends for one ``apply_batch``
    (offsets 400-799 of small_log) on a table that has already applied
    offsets < 400. ``extra_cols`` adds nullable string data columns the
    batch does not carry; ``kernel="agg"`` passes no manifest ranges."""
    from pyspark.sql import types as T

    from tests.util import _py4j_commands

    d, _, manifest = small_log
    (tranche,) = manifest["tranches"]
    schema = T.StructType(TRANSCRIPT_SCHEMA.fields + [
        T.StructField(f"x{i}", T.StringType(), True) for i in range(extra_cols)])
    LakeTable.create(spark, path, schema, n_buckets=8)
    log = _load_log(spark, d).drop("payload")
    for i, hi in enumerate((400, 800)):
        batch = log.filter(F.col("offset") < hi)
        ranges = {int(p): (int(lo), min(int(h), hi - 1))
                  for p, (lo, h) in tranche["partition_offsets"].items()}
        n = _py4j_commands(spark, lambda: apply_batch(
            LakeTable(spark, path), batch, batch_id=i,
            manifest_ranges=ranges if kernel == "locator" else None))
    assert LakeTable(spark, path).applied_offsets == {
        p: min(h, 799) for p, (_, h) in ranges.items()}
    return n


def test_apply_plan_builds_in_few_py4j_calls(spark, small_log, tmp_path):
    """A warm ``apply_batch`` builds its plans in a small, fixed number of
    Py4J commands: 145 here, against 704 when every Column node was its own
    round trip and PySpark captured the Python call site around each one.
    The count does not grow with the table's width (30 data columns cost
    what 6 do; that build used to grow by ~19 commands per column). The
    ``agg`` kernel still builds Column chains (``lww_reduce``); there,
    turning PySpark's call-site capture back on takes the same batch from
    227 to 537 commands."""
    import pyspark.errors.utils as perr

    n6 = _warm_apply_py4j(spark, small_log, str(tmp_path / "t6"))
    assert n6 <= 704 // 2, n6
    n30 = _warm_apply_py4j(spark, small_log, str(tmp_path / "t30"), extra_cols=24)
    assert abs(n30 - n6) <= 10, (n6, n30)

    # a static conf, which PySpark reads once per process into this cache
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    n_agg = _warm_apply_py4j(spark, small_log, str(tmp_path / "ta"), kernel="agg")
    perr._enable_debugging_cache = True
    try:
        n_capture = _warm_apply_py4j(spark, small_log, str(tmp_path / "tc"),
                                     kernel="agg")
    finally:
        perr._enable_debugging_cache = None
    assert not perr.is_debugging_enabled()
    assert n_capture >= 1.5 * n_agg, (n_agg, n_capture)
