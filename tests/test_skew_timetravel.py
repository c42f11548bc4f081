"""Skew stress, write salting, time travel, auto-compaction policy."""

from __future__ import annotations

import os
import shutil

import pytest

from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log
from mimic_iv_etl_spark.cdc.metrics import read_metrics
from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.cdc.replay import replay_log
from mimic_iv_etl_spark.lake.table import CommitConflict, LakeTable
from tests.util import TRANSCRIPT_SCHEMA, assert_final_state_equal


@pytest.fixture(scope="module")
def skewed_log(tmp_path_factory):
    """60% of all events hit ONE conversation — the salting stress dial."""
    d = str(tmp_path_factory.mktemp("log_skew"))
    generate_change_log(
        d, ChangeLogSpec(n_events=10_000, n_convs=400, seed=5, hot_fraction=0.6)
    )
    return d


@pytest.mark.parametrize("kernel,salt", [("locator", 1), ("locator", 4),
                                         ("agg", 1), ("agg", 4)])
def test_skewed_replay_correct_under_salting(spark, skewed_log, tmp_path, kernel, salt):
    """Both LWW kernels under a 60% hot key, each with and without write
    salting. The kernel follows the input: the log's manifest selects
    ``locator``; a copy of the log without it runs ``agg``."""
    log = skewed_log
    if kernel == "agg":
        log = str(tmp_path / "log_no_manifest")
        shutil.copytree(skewed_log, log)
        os.remove(os.path.join(log, "manifest.json"))
    tp = str(tmp_path / f"t_{kernel}_{salt}")
    out = replay_log(spark, log, tp, schema=TRANSCRIPT_SCHEMA,
                     batch_offsets=2_000, n_buckets=8, write_salt=salt)
    assert out["events_applied"] == 10_000
    assert_final_state_equal(LakeTable(spark, tp).read(), duckdb_final_state(skewed_log))
    modes = read_metrics(spark, tp).toPandas()["dedup_mode"]
    assert len(modes) > 0 and (modes == kernel).all(), modes.tolist()


def test_write_salt_splits_hot_bucket_files(spark, skewed_log, tmp_path):
    tp = str(tmp_path / "t_saltfiles")
    replay_log(spark, skewed_log, tp, schema=TRANSCRIPT_SCHEMA,
               batch_offsets=100_000, n_buckets=4, write_salt=4)
    tbl = LakeTable(spark, tp)
    per_bucket: dict[int, int] = {}
    for e in tbl.files:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    # the hot conversation's bucket was written by several salted tasks
    assert max(per_bucket.values()) > 1


def test_time_travel_reads_old_state(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t_tt")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=1_000, n_buckets=8)
    tbl = LakeTable(spark, tp)
    v_final = tbl.version
    old = tbl.at_version(1)  # after the first applied batch
    assert old.read().count() < tbl.read().count()
    assert old.applied_offsets != tbl.applied_offsets
    with pytest.raises(CommitConflict):
        old.commit_summary({"batch_id": 999})  # stale handle cannot commit
    assert LakeTable(spark, tp).version == v_final


def test_auto_compaction_policy(spark, small_log, tmp_path):
    d, spec, _ = small_log
    tp = str(tmp_path / "t_ac")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=400,
               n_buckets=4, auto_compact_deltas=2)
    tbl = LakeTable(spark, tp)
    assert max(tbl.delta_file_counts().values(), default=0) <= 2
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))

    # threshold not exceeded → no-op (no new snapshot)
    v = tbl.version
    tbl.maybe_compact(max_deltas_per_bucket=99)
    assert tbl.version == v
