"""Exactly-once torture: crash between data staging and snapshot commit;
property-based LWW semantics vs an independent Python fold."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import mimic_iv_etl_spark.lake.table as table_mod
from mimic_iv_etl_spark.cdc.apply import apply_batch
from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.lake.merge import lww_reduce
from mimic_iv_etl_spark.lake.table import LakeTable
from tests.util import TRANSCRIPT_SCHEMA, assert_final_state_equal


def test_crash_between_stage_and_commit_is_safe(spark, small_log, tmp_path, monkeypatch):
    """Kill the writer after data files land but before the snapshot exists:
    the table must be unchanged (commit point is the snapshot file), orphans
    must not affect reads, and a retry must converge to the correct state."""
    d, spec, _ = small_log
    tbl = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8)
    log = spark.read.parquet(f"{d}/tranche-0").drop("payload")

    first = log.filter(F.col("offset") < 1000)
    apply_batch(tbl, first, batch_id=0)
    v_before = tbl.version
    rows_before = tbl.read().count()
    files_before = {e["path"] for e in tbl.files}

    class Boom(RuntimeError):
        pass

    real = table_mod._write_snapshot

    def exploding(meta_dir, snap):
        raise Boom("crash after staging, before commit")

    monkeypatch.setattr(table_mod, "_write_snapshot", exploding)
    with pytest.raises(Boom):
        apply_batch(tbl, log, batch_id=1)
    monkeypatch.setattr(table_mod, "_write_snapshot", real)

    # table state untouched; orphan data files exist but are unreferenced
    tbl.refresh()
    assert tbl.version == v_before
    assert tbl.read().count() == rows_before
    on_disk = {
        os.path.relpath(p, tbl.path)
        for p in glob.glob(os.path.join(tbl.path, "data", "bucket=*", "*.parquet"))
    }
    assert on_disk - files_before, "expected orphaned staged files"

    # retry the same batch → converges to the oracle state exactly once
    apply_batch(tbl, log, batch_id=1)
    import duckdb

    con = duckdb.connect()
    files = sorted(glob.glob(f"{d}/tranche-0/*.parquet"))
    lst = ", ".join(f"'{f}'" for f in files)
    want = con.execute(
        f"""
        WITH ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                    ORDER BY ts DESC, "offset" DESC, partition DESC) rn
          FROM read_parquet([{lst}]))
        SELECT conv_id, turn_idx, role, text, tool, ts FROM ranked
        WHERE rn = 1 AND op <> 'D' ORDER BY conv_id, turn_idx
        """
    ).df()
    assert_final_state_equal(tbl.read(), want)


# ---------------------------------------------------------------------------
# Property: lww_reduce == independent fold, over arbitrary event soups
# ---------------------------------------------------------------------------

EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),            # conv_id
        st.integers(0, 3),                            # turn_idx
        st.integers(0, 5),                            # ts seconds (ties likely)
        st.sampled_from(["I", "U", "D"]),            # op
        st.text(alphabet="xyz é", min_size=0, max_size=5),  # text
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=EVENTS)
def test_lww_reduce_matches_fold_property(spark, events):
    base = dt.datetime(2026, 1, 1)
    rows = [
        (c, t, None if op == "D" else "u", None if op == "D" else txt, None,
         base + dt.timedelta(seconds=s), op == "D", i, i % 2)
        for i, (c, t, s, op, txt) in enumerate(events)
    ]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp_ntz, _deleted boolean, "
              "_lww_offset long, _lww_partition int")
    df = spark.createDataFrame(rows, schema)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["_deleted"])
        for r in lww_reduce(df, ["conv_id", "turn_idx"]).collect()
    }
    # independent fold
    want: dict = {}
    stamp: dict = {}
    for c, t, txt, deleted, ts, off, part in (
        (r[0], r[1], r[3], r[6], r[5], r[7], r[8]) for r in rows
    ):
        key, s = (c, t), (ts, off, part)
        if key in stamp and s <= stamp[key]:
            continue
        stamp[key] = s
        want[key] = (txt, deleted)
    assert got == want


@pytest.mark.parametrize("tamper", ["extend_hi", "shrink_hi", "drop_partition",
                                    "negative_lo", "honest"])
def test_manifest_tamper_never_commits_wrong_state(spark, small_log, tmp_path,
                                                   tamper):
    """Safety property for the public apply_batch API (ADVICE r03 medium):
    for ANY tampered manifest_ranges the batch must either abort BEFORE
    commit (leaving the table untouched) or — when the manifest is honest —
    commit exactly the oracle state. A silently-wrong committed state is
    never acceptable: applied_offsets desync is undetectable data loss."""
    from mimic_iv_etl_spark.cdc.changelog import read_manifest

    d, spec, _ = small_log
    tranche = sorted(glob.glob(f"{d}/tranche-*"))[0]
    ranges = read_manifest(d)[tranche].partition_offsets
    if tamper == "extend_hi":
        p = min(ranges)
        ranges[p] = (ranges[p][0], ranges[p][1] + 123)
    elif tamper == "shrink_hi":
        p = min(ranges)
        ranges[p] = (ranges[p][0], ranges[p][1] - 123)
    elif tamper == "drop_partition":
        del ranges[max(ranges)]
    elif tamper == "negative_lo":
        p = min(ranges)
        ranges[p] = (-5, ranges[p][1])

    df = spark.read.parquet(tranche).drop("payload")
    tp = str(tmp_path / f"t_tamper_{tamper}")
    tbl = LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=4)
    if tamper in ("honest", "negative_lo"):
        # negative_lo is auto-repaired: the hwm clip lo = max(lo, hwm+1)
        # raises the claimed -5 back to 0 on a fresh table, so the batch
        # commits the exact oracle state — the acceptable outcome
        stats = apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
        assert stats["events_applied"] == spec.n_events
        assert_final_state_equal(LakeTable(spark, tp).read(),
                                 duckdb_final_state(d))
    else:
        with pytest.raises(RuntimeError, match="cross-check"):
            apply_batch(tbl, df, batch_id=0, manifest_ranges=ranges)
        tbl2 = LakeTable(spark, tp)
        assert tbl2.applied_offsets == {}
        assert tbl2.read().count() == 0
