"""Unit tests: LWW reduce, lake table commits, schema merge."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mimic_iv_etl_spark.lake.merge import lww_reduce, lww_winner_locators
from mimic_iv_etl_spark.lake.schema import merge_schemas, widen
from mimic_iv_etl_spark.lake.table import BUCKET_COL, CommitConflict, LakeTable
from tests.util import TRANSCRIPT_SCHEMA

TS = dt.datetime(2026, 1, 1)


def _cand(spark, rows):
    """rows: (conv_id, turn_idx, text, ts_s, offset, partition, deleted)"""
    schema = (
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "_lww_offset long, _lww_partition int, _deleted boolean"
    )
    data = [
        (c, t, x, TS + dt.timedelta(seconds=s), o, p, d)
        for (c, t, x, s, o, p, d) in rows
    ]
    return spark.createDataFrame(data, schema)


ROWS = [
    ("a", 0, "v1", 0, 0, 0, False),
    ("a", 0, "v2", 5, 1, 0, False),   # newer ts wins
    ("a", 0, "late", 2, 7, 0, False),  # late: older ts, higher offset → loses
    ("a", 1, "t1", 3, 2, 0, False),
    ("a", 1, "t2", 3, 3, 0, False),   # ts tie → offset decides
    ("b", 0, "x1", 1, 0, 1, False),
    ("b", 0, None, 9, 1, 1, True),    # delete wins
    ("c", 0, "p0", 4, 4, 0, False),
    ("c", 0, "p1", 4, 4, 1, False),   # full tie on (ts, offset) → partition decides
]
EXPECT = {("a", 0): ("v2", False), ("a", 1): ("t2", False),
          ("b", 0): (None, True), ("c", 0): ("p1", False)}


@pytest.mark.parametrize("kernel", ["agg", "locator"])
def test_lww_reduce_semantics(spark, kernel):
    """Both LWW kernels pick the same winners on the tie cases: the agg
    kernel returns the rows, the locator kernel their (partition, offset)
    coordinates, which are unique in ROWS."""
    keys = ["conv_id", "turn_idx"]
    if kernel == "agg":
        out = lww_reduce(_cand(spark, ROWS), keys).collect()
        got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["_deleted"]) for r in out}
    else:
        by_loc = {(p, o): ((c, t), (x, d)) for (c, t, x, _, o, p, d) in ROWS}
        got = dict(by_loc[(r["p"], r["o"])]
                   for r in lww_winner_locators(_cand(spark, ROWS), keys).collect())
    assert got == EXPECT


def test_widen_rules():
    assert widen(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen(T.LongType(), T.IntegerType()) == T.LongType()
    assert widen(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert widen(T.IntegerType(), T.DoubleType()) == T.DoubleType()
    assert widen(T.StringType(), T.StringType()) == T.StringType()
    with pytest.raises(TypeError):
        widen(T.StringType(), T.LongType())


def test_merge_schemas_appends_and_widens():
    a = T.StructType([T.StructField("x", T.IntegerType(), False),
                      T.StructField("y", T.StringType(), True)])
    b = T.StructType([T.StructField("x", T.LongType(), False),
                      T.StructField("z", T.StringType(), False)])
    m = merge_schemas(a, b)
    assert [f.name for f in m.fields] == ["x", "y", "z"]
    assert m["x"].dataType == T.LongType()
    assert m["z"].nullable  # appended columns always nullable


def _internal(df, table):
    return df.withColumn(BUCKET_COL, table.bucket_expr())


def test_lake_create_append_read_compact(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tbl = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=8)
    assert LakeTable.exists(path)
    assert tbl.read().count() == 0

    rows = [
        ("a", 0, "user", "hello", None, TS, False, 0, 0),
        ("a", 1, "assistant", "hi", "search", TS, False, 1, 0),
        ("b", 0, "user", "bye", None, TS, True, 2, 1),  # tombstone
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, _deleted boolean, _lww_offset long, _lww_partition int"
    )
    df = _internal(spark.createDataFrame(rows, schema), tbl)
    tbl.append_delta(df, summary={"applied_offsets": {"0": 1, "1": 2}})

    assert tbl.version == 1
    assert tbl.read().count() == 2  # tombstone filtered
    assert tbl.read(internal=True).count() == 3
    assert tbl.applied_offsets == {0: 1, 1: 2}

    # newer delta overrides, delete guard: late older update cannot resurrect b/0
    rows2 = [
        ("a", 0, "user", "hello2", None, TS + dt.timedelta(seconds=1), False, 3, 0),
        ("b", 0, "user", "zombie", None, TS - dt.timedelta(seconds=1), False, 4, 1),
    ]
    tbl.append_delta(_internal(spark.createDataFrame(rows2, schema), tbl),
                     summary={"applied_offsets": {"0": 3, "1": 4}})
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read().collect()}
    assert got == {("a", 0): "hello2", ("a", 1): "hi"}

    # compaction folds deltas, preserves state incl. tombstone guard
    v = tbl.version
    tbl.compact()
    assert tbl.version == v + 1
    assert all(e["kind"] == "base" for e in tbl.files)
    got2 = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read().collect()}
    assert got2 == got
    assert tbl.read(internal=True).count() == 3  # tombstone survives compaction

    # bucket pruning reads only matching files
    b_a = tbl.read(internal=True).filter(F.col("conv_id") == "a")
    bucket_a = (
        spark.createDataFrame([("a",)], "conv_id string")
        .select(tbl.bucket_expr().alias("b"))
        .collect()[0]["b"]
    )
    pruned = tbl.read(buckets={bucket_a})
    assert pruned.count() == b_a.filter(~F.col("_deleted")).count()


def test_expire_tombstones_targets_only_tombstone_buckets(spark, tmp_path):
    """expire_tombstones must rewrite ONLY buckets whose files may hold
    tombstones (per-file _deleted column stats tracked at write time);
    tombstone-free buckets keep byte-identical file entries (VERDICT r01
    scale note)."""
    path = str(tmp_path / "tbl_exp")
    tbl = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=8)
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, _deleted boolean, _lww_offset long, _lww_partition int"
    )
    rows = [(f"c{i}", 0, "user", f"t{i}", None, TS, False, i, 0) for i in range(40)]
    # delete exactly one conversation → one tombstone bucket
    rows.append(("c7", 1, None, None, None, TS, True, 99, 0))
    tbl.append_delta(_internal(spark.createDataFrame(rows, schema), tbl),
                     summary={"applied_offsets": {"0": 99}})
    tbl.compact()

    files_before = {e["path"]: e for e in tbl.files}
    tomb_bucket = (
        spark.createDataFrame([("c7",)], "conv_id string")
        .select(tbl.bucket_expr().alias("b")).collect()[0]["b"]
    )
    assert any(e["has_tombstones"] and e["bucket"] == tomb_bucket
               for e in tbl.files)

    rows_before = {(r["conv_id"], r["turn_idx"]) for r in tbl.read().collect()}
    tbl.expire_tombstones(str(TS + dt.timedelta(days=1)))

    # untouched buckets keep identical file entries; the tombstone bucket
    # was rewritten; the tombstone itself is gone from the internal read
    for e in tbl.files:
        if e["bucket"] != tomb_bucket:
            assert e == files_before[e["path"]], "tombstone-free bucket rewritten"
    assert all(e["bucket"] == tomb_bucket or e["path"] in files_before
               for e in tbl.files)
    assert tbl.read(internal=True).filter(F.col("_deleted")).count() == 0
    assert {(r["conv_id"], r["turn_idx"]) for r in tbl.read().collect()} == rows_before

    # second pass: nothing to expire → metadata-only no-op (same version)
    v = tbl.version
    tbl.expire_tombstones(str(TS + dt.timedelta(days=2)))
    assert tbl.version == v


def test_commit_conflict(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    t1 = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    t2 = LakeTable(spark, path)
    t1.commit_summary({"batch_id": 1})
    # a stale handle loses the O_EXCL race but REBASES (tests/test_commit_race
    # .py covers the full matrix); only pinned handles refuse outright
    t2.commit_summary({"batch_id": 2})
    assert LakeTable(spark, path).version == 2
    with pytest.raises(CommitConflict):
        t1.at_version(0).commit_summary({"batch_id": 3})


def test_time_travel_history(spark, tmp_path):
    path = str(tmp_path / "tbl3")
    tbl = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    tbl.commit_summary({"batch_id": 10})
    tbl.commit_summary({"batch_id": 11})
    h = tbl.history()
    assert [s["version"] for s in h] == [2, 1, 0]
    assert h[0]["summary"]["batch_id"] == 11


def test_read_keys_point_lookup_prunes_and_pushes_down(spark, small_log, tmp_path):
    """read_keys must (1) return exactly read().filter(isin) — including under
    merge-on-read deltas, (2) scan only the selected keys' buckets' files,
    and (3) push the key IN-predicate into the parquet scans below the LWW
    reduce."""
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from tests.util import TRANSCRIPT_SCHEMA

    d, spec, _ = small_log
    tp = str(tmp_path / "t_ptlkp")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=2000,
               n_buckets=8)
    tbl = LakeTable(spark, tp)
    keys = [r["conv_id"] for r in
            tbl.read().select("conv_id").distinct().limit(3).collect()]

    got = tbl.read_keys(keys)
    want = tbl.read().filter(F.col("conv_id").isin(keys))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # bucket pruning: strictly fewer files than the full table holds
    assert 0 < len(got.inputFiles()) < len(tbl.read().inputFiles())

    # predicate pushed into the scan (below the merge-on-read reduce)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(conv_id" in plan, plan

    # empty key list → empty result, no files
    assert tbl.read_keys([]).count() == 0


def test_read_keys_builds_without_spark_job(spark, small_log, tmp_path):
    """read_keys routes its keys to buckets over a local relation: building
    the point-lookup frame starts no Spark job, and it still returns
    exactly read().filter(isin) — duplicate keys included."""
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from tests.util import jobs_started

    d, _, _ = small_log
    tp = str(tmp_path / "t_keys_nojob")
    replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=4000,
               n_buckets=4)
    tbl = LakeTable(spark, tp)
    keys = ["conv-000000", "conv-000007", "conv-000007", "conv-999999"]
    before = jobs_started(spark)
    got = tbl.read_keys(keys)
    assert jobs_started(spark) == before
    want = tbl.read().filter(F.col("conv_id").isin(keys))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_manifest_segments_make_commits_o_batch(spark, tmp_path):
    """Iceberg-style manifest segments: an append commit writes ONE new
    segment holding exactly its staged entries and references prior segments
    by name — snapshot JSON size is O(segments), not O(total files). A
    snapshot without a `manifests` list (an inline `files` list instead) is
    refused with a ValueError naming the file; vacuum GCs segments no
    retained snapshot references."""
    import json
    import os
    import re

    from mimic_iv_etl_spark.lake.table import _files_of

    path = str(tmp_path / "tbl_seg")
    tbl = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, _deleted boolean, _lww_offset long, _lww_partition int"
    )
    for batch in range(3):
        rows = [(f"c{i}", batch, "user", f"t{batch}", None, TS, False,
                 batch * 100 + i, 0) for i in range(8)]
        tbl.append_delta(_internal(spark.createDataFrame(rows, schema), tbl),
                         summary={"applied_offsets": {"0": batch * 100 + 7}})
    # one segment per append; each holds exactly that batch's files
    assert len(tbl.manifests) == 3
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, f"v{tbl.version}.json")) as f:
        snap = json.load(f)
    assert "files" not in snap  # snapshot carries segment names only
    per_segment = [len(_files_of(meta, {"manifests": [m]}))
                   for m in tbl.manifests]
    assert sum(per_segment) == len(tbl.files)
    assert max(per_segment) <= 4  # ≤ n_buckets files per commit
    n_files = len(tbl.files)

    # compaction rewrites touched segments; count collapses
    tbl.compact()
    assert len(tbl.manifests) == 1
    assert all(e["kind"] == "base" for e in tbl.files)

    # an inline-format snapshot is not a layout this table writes: every
    # reader of v{N}.json refuses it, naming the file
    vpath = os.path.join(meta, f"v{tbl.version}.json")
    with open(vpath) as f:
        written = f.read()
    snap = json.loads(written)
    snap["files"] = _files_of(meta, snap)
    del snap["manifests"]
    with open(vpath, "w") as f:
        json.dump(snap, f)
    for read in (tbl.refresh, lambda: LakeTable(spark, path),
                 lambda: tbl.at_version(tbl.version)):
        with pytest.raises(ValueError, match=re.escape(vpath)):
            read()
    with open(vpath, "w") as f:
        f.write(written)
    tbl.refresh()
    compacted_files = {e["path"] for e in tbl.files}
    assert len(compacted_files) > 0
    rows = [("cX", 9, "user", "new", None, TS, False, 999, 0)]
    tbl.append_delta(_internal(spark.createDataFrame(rows, schema), tbl),
                     summary={"applied_offsets": {"0": 999}})
    assert len(tbl.manifests) == 2
    assert {e["path"] for e in tbl.files} > compacted_files

    # vacuum GCs segments orphaned by snapshot expiry (grace 0)
    tbl.expire_snapshots(keep_last=1)
    removed = tbl.vacuum(grace_seconds=0.0)
    assert removed["manifests"] >= 1
    assert {e["path"] for e in tbl.files} > compacted_files  # table intact
    assert tbl.read().count() > 0


def test_bucket_by_must_be_a_key_column(spark, tmp_path):
    """ADVICE r04: the read_keys key-pushdown below the merge-on-read LWW
    reduce is only sound when bucket_by is one of key_cols (value fixed per
    key) — create() must reject anything else, and read_keys must refuse on
    a pre-validation table whose metadata slipped through."""
    import json
    import os

    import pytest

    with pytest.raises(ValueError, match="bucket_by"):
        LakeTable.create(spark, str(tmp_path / "t_badbucket"),
                         TRANSCRIPT_SCHEMA, n_buckets=4, bucket_by="role")
    # a key column other than the first is fine
    t = LakeTable.create(spark, str(tmp_path / "t_okbucket"),
                         TRANSCRIPT_SCHEMA, n_buckets=4, bucket_by="turn_idx")
    assert t.snapshot["bucket_by"] == "turn_idx"
    # legacy table with a non-key bucket_by: read_keys refuses loudly
    tp = str(tmp_path / "t_legacy")
    t2 = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    vpath = os.path.join(tp, "metadata", "v0.json")
    with open(vpath) as f:
        snap = json.load(f)
    snap["bucket_by"] = "role"
    with open(vpath, "w") as f:
        json.dump(snap, f)
    t2.refresh()
    with pytest.raises(ValueError, match="read_keys requires"):
        t2.read_keys(["c0"])


def _task_outputs(spark, first_job: int) -> list[int]:
    """``recordsWritten`` of every task that wrote rows, over the stages of
    the jobs started after job id ``first_job``, from the status store."""
    from tests.util import jobs_started

    sc = spark.sparkContext
    last = jobs_started(spark)  # also drains the listener bus
    store = sc._jsc.sc().statusStore()
    out = []
    for j in range(first_job + 1, last + 1):
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            tasks = store.taskList(sid, 0, 1 << 30)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                n = m.get().outputMetrics().recordsWritten() if m.isDefined() else 0
                if n:
                    out.append(n)
    return out


@pytest.mark.parametrize("n_buckets,write_salt", [(4, 1), (32, 1), (4, 4)])
def test_one_writer_task_per_bucket(spark, tmp_path, n_buckets, write_salt):
    """The write stage gives each bucket (each bucket × salt slot) its own
    task, so a commit touching every bucket writes from exactly that many
    tasks, one file each. A hash repartition on the bucket number put
    buckets 0-3 into 2 of 4 tasks. With ``write_salt`` the hot bucket is
    split into exactly ``write_salt`` files and no bucket gets more."""
    from tests.util import jobs_started

    tbl = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                           n_buckets=n_buckets)
    # 500 conversations × 4 turns touch every bucket; one hot conversation
    # carries 400 distinct turns
    df = spark.range(2_400).selectExpr(
        "IF(id < 2000, concat('c', CAST(id % 500 AS string)), 'hot') AS conv_id",
        "CAST(IF(id < 2000, id DIV 500, id) AS int) AS turn_idx",
        "'user' AS role", "'x' AS text", "CAST(NULL AS string) AS tool",
        "TIMESTAMP_NTZ'2026-01-01 00:00:00' AS ts", "false AS _deleted",
        "id AS _lww_offset", "0 AS _lww_partition")
    j0 = jobs_started(spark)
    tbl.append_delta(_internal(df, tbl), write_salt=write_salt)
    written = _task_outputs(spark, j0)

    new = tbl.last_new_entries
    assert {e["bucket"] for e in new} == set(range(n_buckets))
    per_bucket: dict[int, int] = {}
    for e in new:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    # one file per task with output: the tasks' row counts are the files'
    assert sorted(written) == sorted(e["rows"] for e in new)
    if write_salt == 1:
        assert len(written) == n_buckets
        assert set(per_bucket.values()) == {1}
    else:
        hot = (spark.createDataFrame([("hot",)], "conv_id string")
               .select(tbl.bucket_expr().alias("b")).collect()[0]["b"])
        assert per_bucket[hot] == write_salt
        assert max(per_bucket.values()) == write_salt
