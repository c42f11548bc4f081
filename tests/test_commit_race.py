"""Optimistic-concurrency commit races: rebase semantics of the lake table.

Two handles on the same table path are two independent writers; committing
from a stale handle loses the ``O_EXCL`` snapshot race deterministically,
which exercises the refresh → revalidate → rebase → retry loop without
threads. Reference behavior being replaced: the reference engine has no
concurrent-writer story at all (single-process BigQuery session,
/root/reference/src/mimicfouretl/bigquery_utils.py); the semantics here are
Iceberg's optimistic commit protocol re-expressed over snapshot JSON + file
manifests.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mimic_iv_etl_spark.lake.table import BUCKET_COL, CommitConflict, LakeTable
from tests.util import TRANSCRIPT_SCHEMA

TS = dt.datetime(2026, 1, 1)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, _deleted boolean, _lww_offset long, _lww_partition int"
)


def _internal(df, table):
    return df.withColumn(BUCKET_COL, table.bucket_expr())


def _rows(spark, table, rows):
    return _internal(spark.createDataFrame(rows, SCHEMA), table)


def _mk_table(spark, path, n_rows=6):
    """Table with one applied batch of ``n_rows`` delta rows."""
    tbl = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    rows = [
        (f"c{i}", 0, "user", f"t{i}", None, TS, False, i, 0)
        for i in range(n_rows)
    ]
    tbl.append_delta(_rows(spark, tbl, rows),
                     summary={"applied_offsets": {"0": n_rows - 1}})
    return tbl


def _state(tbl):
    return {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read().collect()}


def test_stale_commit_summary_rebases(spark, tmp_path):
    """A metadata-only commit from a stale handle replays onto the winner."""
    path = str(tmp_path / "t_sum")
    t1 = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    t2 = LakeTable(spark, path)
    t1.commit_summary({"batch_id": 1})
    t2.commit_summary({"batch_id": 2})  # stale → loses v1 race, retries at v2
    fresh = LakeTable(spark, path)
    assert fresh.version == 2
    assert fresh.summary["batch_id"] == 2
    assert fresh.at_version(1).summary["batch_id"] == 1  # winner preserved


def test_append_rebases_over_compaction(spark, tmp_path):
    """Ingest never stops for maintenance: an append that loses the snapshot
    race to a concurrent compaction re-points its staged delta segment at the
    compacted base — no Spark job re-runs, no data re-staged."""
    path = str(tmp_path / "t_app")
    t1 = _mk_table(spark, path)
    t2 = LakeTable(spark, path)

    t1.compact()  # winner: folds deltas into base files
    v_compact = t1.version

    new = [("c0", 0, "user", "upd", None, TS + dt.timedelta(seconds=5),
            False, 100, 0),
           ("cX", 0, "user", "new", None, TS, False, 101, 0)]
    t2.append_delta(_rows(spark, t2, new),
                    summary={"applied_offsets": {"0": 101}})  # stale → rebase

    fresh = LakeTable(spark, path)
    assert fresh.version == v_compact + 1
    assert fresh.snapshot["parent"] == v_compact
    got = _state(fresh)
    assert got[("c0", 0)] == "upd" and got[("cX", 0)] == "new"
    assert len(got) == 7
    # the compacted base survived: base files present alongside the new delta
    kinds = {e["kind"] for e in fresh.files}
    assert kinds == {"base", "delta"}


def test_compaction_rebases_over_append_delta_survives(spark, tmp_path):
    """RewriteFiles semantics: a compaction that loses to a concurrent append
    keeps the appended delta files — only the exact files it read and
    replaced are dropped, and LWW(base' ∪ delta) == LWW(old ∪ delta)."""
    path = str(tmp_path / "t_cmp")
    t1 = _mk_table(spark, path)
    t2 = LakeTable(spark, path)

    # t1 plans + stages the compaction against v1 but t2's append wins v2
    new = [("c1", 0, "user", "upd1", None, TS + dt.timedelta(seconds=9),
            False, 200, 0),
           ("cY", 3, "user", "fresh", None, TS, False, 201, 0)]
    t2.append_delta(_rows(spark, t2, new),
                    summary={"applied_offsets": {"0": 201}})
    appended = {e["path"] for e in t2.last_new_entries}

    t1.compact()  # stale → loses the race, rebases onto the append

    fresh = LakeTable(spark, path)
    assert fresh.version == t2.version + 1
    live = {e["path"] for e in fresh.files}
    assert appended <= live, "concurrent append's delta files were dropped"
    got = _state(fresh)
    assert got[("c1", 0)] == "upd1" and got[("cY", 3)] == "fresh"
    assert len(got) == 7
    # merge-on-read re-reduces the surviving delta over the rebased base
    assert got[("c0", 0)] == "t0"


def test_conflicting_rewrites_abort(spark, tmp_path):
    """Two rewrites of the same files cannot both win: the loser's staged
    result folded state that no longer exists → CommitConflict, staged files
    never referenced."""
    path = str(tmp_path / "t_dup")
    t1 = _mk_table(spark, path)
    t2 = LakeTable(spark, path)

    t2.compact()  # winner rewrote every delta file
    v_win = t2.version
    with pytest.raises(CommitConflict, match="no longer referenced"):
        t1.compact()  # same replaced set → unrebaseable

    fresh = LakeTable(spark, path)
    assert fresh.version == v_win  # loser left no snapshot behind
    assert _state(fresh) == _state(t2)
    # ... and no orphaned data files either: the loser discarded its staged
    # result instead of leaving it for vacuum's grace window
    import os

    on_disk = set()
    data_dir = os.path.join(path, "data")
    for root, _dirs, fns in os.walk(data_dir):
        for fn in fns:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, fn), path))
    referenced_now = {e["path"] for e in fresh.files}
    referenced_ever = set()
    for v in range(fresh.version + 1):
        referenced_ever |= {e["path"] for e in fresh.at_version(v).files}
    assert on_disk - referenced_ever == set(), "orphan staged files left"
    assert referenced_now <= on_disk


@pytest.mark.parametrize("race", ["append_vs_rebucket", "compact_vs_compact",
                                  "rebucket_vs_append", "pinned_append"])
def test_terminal_conflict_leaves_no_orphans(spark, tmp_path, race):
    """Every data commit that finally loses its race (layout change under an
    append, a rewrite of already-rewritten files, a full rewrite from a stale
    handle, an append from a read-only time-travel handle) raises
    CommitConflict, leaves the winner's table as it was, and deletes its
    staged data files and its new manifest segment at once: nothing it
    wrote waits for vacuum's grace window."""
    import glob
    import json
    import os

    path = str(tmp_path / f"t_{race}")
    winner = _mk_table(spark, path)
    loser = LakeTable(spark, path)
    late = [("cL", 0, "user", "late", None, TS, False, 600, 0)]
    if race == "append_vs_rebucket":
        winner.rebucket(8)
        staged = _rows(spark, loser, late)  # bucketed for n_buckets=4
        lose = lambda: loser.append_delta(staged)  # noqa: E731
    elif race == "compact_vs_compact":
        winner.compact()
        lose = loser.compact
    elif race == "pinned_append":
        loser = winner.at_version(winner.version)
        staged = _rows(spark, loser, late)
        lose = lambda: loser.append_delta(staged)  # noqa: E731
    else:
        winner.append_delta(_rows(spark, winner, late))
        lose = lambda: loser.rebucket(8)  # noqa: E731
    want = _state(winner)

    with pytest.raises(CommitConflict):
        lose()

    fresh = LakeTable(spark, path)
    assert fresh.version == winner.version
    assert fresh.n_buckets == winner.n_buckets
    assert _state(fresh) == want
    meta = os.path.join(path, "metadata")
    snaps = []
    for p in glob.glob(os.path.join(meta, "v*.json")):
        with open(p) as f:
            snaps.append(json.load(f))
    referenced = {e["path"] for v in range(fresh.version + 1)
                  for e in fresh.at_version(v).files}
    on_disk = {os.path.relpath(p, path) for p in
               glob.glob(os.path.join(path, "data", "bucket=*", "*.parquet"))}
    assert on_disk - referenced == set(), "loser left orphan data files"
    segments = {os.path.basename(p)
                for p in glob.glob(os.path.join(meta, "m-*.json"))}
    live = {m for s in snaps for m in s["manifests"]}
    assert segments - live == set(), "loser left orphan manifest segments"


def test_rebased_rewrite_leaves_no_superseded_segments(spark, tmp_path):
    """A copy-on-write commit that wins after a rebase rewrites the touched
    segments on every attempt; once its link succeeds the rewrites of the
    lost attempts are deleted, so every manifest segment on disk is
    referenced by some snapshot, and the rebased state is the winner's."""
    import glob
    import json
    import os

    path = str(tmp_path / "t_seg")
    winner = _mk_table(spark, path)
    stale = LakeTable(spark, path)
    b = min(e["bucket"] for e in stale.files)
    winner.append_delta(_rows(spark, winner, [
        ("cS", 1, "user", "appended", None, TS, False, 700, 0)]),
        summary={"applied_offsets": {"0": 700}})
    want = _state(winner)

    stale.compact(buckets={b})  # loses v2, rebases onto the append

    fresh = LakeTable(spark, path)
    assert fresh.version == winner.version + 1
    assert _state(fresh) == want
    meta = os.path.join(path, "metadata")
    live = set()
    for p in glob.glob(os.path.join(meta, "v*.json")):
        with open(p) as f:
            live |= set(json.load(f)["manifests"])
    segments = {os.path.basename(p)
                for p in glob.glob(os.path.join(meta, "m-*.json"))}
    assert segments - live == set(), "superseded rebase segments left"


def test_rebase_guard_rejects_layout_change(spark, tmp_path):
    """A concurrent partition evolution (rebucket) makes staged files
    unrebaseable: their _bucket column was computed with the old bucket
    function. The guard aborts instead of committing misrouted files."""
    path = str(tmp_path / "t_lay")
    t1 = _mk_table(spark, path)
    t2 = LakeTable(spark, path)

    t1.rebucket(8)  # winner changes the table layout
    new = [("cZ", 0, "user", "x", None, TS, False, 300, 0)]
    staged = _rows(spark, t2, new)  # bucketed with the OLD n_buckets=4
    with pytest.raises(CommitConflict, match="layout"):
        t2.append_delta(staged, summary={"applied_offsets": {"0": 300}})

    fresh = LakeTable(spark, path)
    assert fresh.version == t1.version
    assert fresh.n_buckets == 8


def test_append_append_race_rebases(spark, tmp_path):
    """Two plain data appends interleave: the loser re-points its segment;
    both batches are visible. (Exactly-once offset bookkeeping remains a
    single logical stream's job — this covers side-loading, not dual CDC.)"""
    path = str(tmp_path / "t_aa")
    t1 = _mk_table(spark, path)
    t2 = LakeTable(spark, path)

    a = [("p", 0, "user", "from-t1", None, TS, False, 400, 0)]
    b = [("q", 0, "user", "from-t2", None, TS, False, 401, 0)]
    t1.append_delta(_rows(spark, t1, a))
    t2.append_delta(_rows(spark, t2, b))  # stale → rebase

    fresh = LakeTable(spark, path)
    got = _state(fresh)
    assert got[("p", 0)] == "from-t1" and got[("q", 0)] == "from-t2"
    assert len(got) == 8


def test_ingest_with_concurrent_maintenance(spark, small_log, tmp_path):
    """The deployment shape the rebase loop exists for: a second process
    (here: thread + independent handle) runs aggressive compaction WHILE the
    CDC replay ingests. Every real O_EXCL race lands on one of the rebase
    paths; exactly-once accounting and the DuckDB final-state oracle must
    hold regardless of interleaving."""
    import threading
    import time as _time

    from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from tests.util import assert_final_state_equal

    d, spec, _ = small_log
    tp = str(tmp_path / "t_conc")
    stop = threading.Event()
    errors: list[BaseException] = []
    compactions = [0]

    def maintainer():
        while not LakeTable.exists(tp) and not stop.is_set():
            _time.sleep(0.02)
        while not stop.is_set():
            try:
                t = LakeTable(spark, tp)
                v = t.version
                t.maybe_compact(max_deltas_per_bucket=1)
                if t.version != v:
                    compactions[0] += 1
            except BaseException as e:  # noqa: BLE001 — surfaced in main thread
                errors.append(e)
                return
            _time.sleep(0.02)

    th = threading.Thread(target=maintainer, daemon=True)
    th.start()
    try:
        out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,
                         batch_offsets=500, n_buckets=8)
    finally:
        stop.set()
        th.join(timeout=60)
    assert not errors, f"maintainer died: {errors[0]!r}"
    assert out["events_applied"] == spec.n_events
    assert compactions[0] > 0, "maintenance never actually interleaved"
    tbl = LakeTable(spark, tp)
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))
    # exactly-once bookkeeping survived the interleaving
    assert set(tbl.applied_offsets) == set(range(spec.n_partitions))


def test_stream_ingest_with_concurrent_maintenance(spark, small_log, tmp_path):
    """Same interleaving through the STREAMING ingest path (the cdc_ingest
    deployment shape): foreachBatch MERGE commits race a maintenance thread's
    compactions; exactly-once micro-batch accounting and the final-state
    oracle must hold."""
    import threading
    import time as _time

    from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
    from mimic_iv_etl_spark.cdc.stream import stream_log
    from tests.util import assert_final_state_equal

    d, spec, _ = small_log
    tp = str(tmp_path / "t_sconc")
    stop = threading.Event()
    errors: list[BaseException] = []
    compactions = [0]

    def maintainer():
        while not LakeTable.exists(tp) and not stop.is_set():
            _time.sleep(0.02)
        while not stop.is_set():
            try:
                t = LakeTable(spark, tp)
                v = t.version
                t.maybe_compact(max_deltas_per_bucket=1)
                if t.version != v:
                    compactions[0] += 1
            except BaseException as e:  # noqa: BLE001 — surfaced in main thread
                errors.append(e)
                return
            _time.sleep(0.02)

    th = threading.Thread(target=maintainer, daemon=True)
    th.start()
    try:
        table = stream_log(spark, d, tp, str(tmp_path / "ckpt_sconc"),
                           schema=TRANSCRIPT_SCHEMA, n_buckets=8,
                           max_files_per_trigger=1)
    finally:
        stop.set()
        th.join(timeout=60)
    assert not errors, f"maintainer died: {errors[0]!r}"
    assert compactions[0] > 0, "maintenance never actually interleaved"
    assert_final_state_equal(table.read(), duckdb_final_state(d))
    assert set(table.applied_offsets) == set(range(spec.n_partitions))


def test_online_rebucket_under_live_ingest(spark, small_log, tmp_path):
    """Partition evolution with ZERO ingest downtime: a separate handle
    rebuckets the table WHILE the CDC replay runs. The in-flight batch's
    winners were routed with the old bucket function, so its commit hits the
    rebase layout guard; the replay loop refreshes and re-applies the batch
    against the new layout (offsets only commit on success → idempotent).
    Final state must be oracle-exact on the new bucket count."""
    import threading
    import time as _time

    from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from tests.util import assert_final_state_equal

    d, spec, _ = small_log
    tp = str(tmp_path / "t_rebkt")
    errors: list[BaseException] = []
    rebucketed = threading.Event()

    def evolver():
        # wait until the replay has committed a couple of batches, then
        # change the layout out from under its (now stale) handle
        while True:
            if LakeTable.exists(tp) and LakeTable(spark, tp).version >= 2:
                break
            _time.sleep(0.01)
        while True:
            try:
                LakeTable(spark, tp).rebucket(16)
                rebucketed.set()
                return
            except CommitConflict:
                continue  # lost a snapshot race to an ingest commit: re-plan
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                return

    th = threading.Thread(target=evolver, daemon=True)
    th.start()
    out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA,
                     batch_offsets=250, n_buckets=4)
    th.join(timeout=120)
    assert not errors, f"evolver died: {errors[0]!r}"
    assert rebucketed.is_set(), "rebucket never happened"
    assert out["events_applied"] == spec.n_events
    assert out["layout_retries"] >= 1, "no batch ever hit the layout guard"
    tbl = LakeTable(spark, tp)
    assert tbl.n_buckets == 16
    assert_final_state_equal(tbl.read(), duckdb_final_state(d))
    assert set(tbl.applied_offsets) == set(range(spec.n_partitions))


@pytest.mark.parametrize("topology", ["shared_session", "session_per_stream"])
def test_multi_source_fan_in(spark, tmp_path, topology):
    """Two change streams with DISJOINT source-partition id ranges ingest
    into one table concurrently (Kafka-style fan-in: each stream owns its
    partitions' high-water marks). Commit races rebase, and the summary
    merge takes the per-partition MAX of applied_offsets — a wholesale
    overwrite from a stale view would regress the other stream's marks and
    re-apply its events on restart. Final state must equal the LWW oracle
    over the UNION of both logs (overlapping conv ids resolved by the
    global (ts, offset, partition) total order).

    Both deployment topologies: a SHARED SparkSession (both appliers run
    their batches concurrently on it — the apply path holds no per-session
    lock or session-global state) and a session PER STREAM (also how
    separate driver processes would behave)."""
    import os
    import threading

    from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log
    from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from tests.util import assert_final_state_equal

    la, lb = str(tmp_path / "logA"), str(tmp_path / "logB")
    generate_change_log(la, ChangeLogSpec(n_events=4_000, n_convs=200,
                                          n_partitions=4, seed=11))
    generate_change_log(lb, ChangeLogSpec(n_events=4_000, n_convs=200,
                                          n_partitions=4, seed=22,
                                          partition_base=4))
    tp = str(tmp_path / "t_fanin")
    LakeTable.create(spark, tp, TRANSCRIPT_SCHEMA, n_buckets=8)

    results: dict[str, dict] = {}
    errors: list[BaseException] = []
    sessions = {"a": spark, "b": spark}
    if topology == "session_per_stream":
        sessions = {"a": spark.newSession(), "b": spark.newSession()}

    def ingest(name: str, log_dir: str):
        try:
            results[name] = replay_log(sessions[name], log_dir, tp,
                                       schema=TRANSCRIPT_SCHEMA,
                                       batch_offsets=300)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=ingest, args=("a", la), daemon=True),
               threading.Thread(target=ingest, args=("b", lb), daemon=True)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, f"ingest died: {errors[0]!r}"
    assert results["a"]["events_applied"] == 4_000
    assert results["b"]["events_applied"] == 4_000

    # combined oracle: one view over both logs' tranches
    both = str(tmp_path / "log_union")
    os.makedirs(both)
    os.symlink(os.path.join(la, "tranche-0"), os.path.join(both, "tranche-0"))
    os.symlink(os.path.join(lb, "tranche-0"), os.path.join(both, "tranche-1"))

    tbl = LakeTable(spark, tp)
    assert_final_state_equal(tbl.read(), duckdb_final_state(both))
    # both streams' high-water marks survived every commit race
    assert set(tbl.applied_offsets) == set(range(8))


def test_commit_protocol_chaos(spark, tmp_path):
    """Stress the whole optimistic-commit protocol at once: three appender
    threads (disjoint conv-id spaces, their own handles) race two maintenance
    threads (aggressive compaction; metadata-only summary commits) for many
    rounds. Whatever interleaving happens, the invariants must hold: no
    unexpected exceptions, every appended row present exactly once, version
    history linear (each snapshot's parent is the previous version), and no
    unreferenced data files left behind."""
    import os
    import threading

    path = str(tmp_path / "t_chaos")
    LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    errors: list[BaseException] = []
    ROUNDS, APPENDERS = 6, 3

    def appender(idx: int):
        try:
            t = LakeTable(spark, path)
            for r in range(ROUNDS):
                rows = [(f"w{idx}-c{r}-{i}", 0, "user", f"t{idx}.{r}.{i}",
                         None, TS, False, idx * 10_000 + r * 10 + i, idx)
                        for i in range(3)]
                t.append_delta(
                    _rows(spark, t, rows),
                    summary={"applied_offsets": {str(idx): r}})
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def compactor():
        # the single compactor must never hit a terminal conflict (appends
        # always rebase under it) — any exception is a protocol bug
        try:
            for _ in range(ROUNDS * 2):
                LakeTable(spark, path).maybe_compact(max_deltas_per_bucket=1)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def summarizer():
        try:
            for i in range(ROUNDS * 3):
                LakeTable(spark, path).commit_summary({"audit_tick": i})
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = ([threading.Thread(target=appender, args=(i,), daemon=True)
                for i in range(APPENDERS)]
               + [threading.Thread(target=compactor, daemon=True),
                  threading.Thread(target=summarizer, daemon=True)])
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"thread died: {errors[0]!r}"

    tbl = LakeTable(spark, path)
    got = {(r["conv_id"], r["text"]) for r in tbl.read().collect()}
    want = {(f"w{idx}-c{r}-{i}", f"t{idx}.{r}.{i}")
            for idx in range(APPENDERS) for r in range(ROUNDS)
            for i in range(3)}
    assert got == want
    # every appender's high-water mark survived every race
    assert {int(p): o for p, o in tbl.applied_offsets.items()} == {
        i: ROUNDS - 1 for i in range(APPENDERS)}
    # linear history: each snapshot's parent is exactly the version below it
    for v in range(1, tbl.version + 1):
        assert tbl.at_version(v).snapshot["parent"] == v - 1
    # no unreferenced data files (nothing aborted; compaction replaced files
    # stay referenced by OLD snapshots until expire+vacuum)
    referenced_ever = set()
    for v in range(tbl.version + 1):
        referenced_ever |= {e["path"] for e in tbl.at_version(v).files}
    on_disk = set()
    for root, _dirs, fns in os.walk(os.path.join(path, "data")):
        for fn in fns:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, fn), path))
    assert on_disk == referenced_ever


def test_stale_hint_recovery(spark, tmp_path):
    """Crash between snapshot fsync and hint replace: version-hint.txt is
    one behind the committed chain. The hint is a HINT — refresh probes
    forward, and the next commit lands on top of the real head (the old
    behavior wedged every commit in O_EXCL conflicts forever)."""
    import os

    path = str(tmp_path / "t_hint")
    t1 = _mk_table(spark, path)
    v = t1.version
    hint = os.path.join(path, "metadata", "version-hint.txt")
    with open(hint, "w") as f:
        f.write("0")  # simulate the crashed writer's un-replaced hint

    fresh = LakeTable(spark, path)
    assert fresh.version == v, "probe-forward missed the committed head"
    fresh.commit_summary({"batch_id": 99})
    assert fresh.version == v + 1
    with open(hint) as f:
        assert int(f.read().strip()) == v + 1  # hint repaired by the commit


def test_pinned_handle_never_rebases(spark, tmp_path):
    """Time-travel handles are read-only: they raise immediately instead of
    joining the retry loop (a pinned snapshot must never silently advance)."""
    path = str(tmp_path / "t_pin")
    t1 = _mk_table(spark, path)
    old = t1.at_version(0)
    with pytest.raises(CommitConflict, match="read-only"):
        old.commit_summary({"batch_id": 9})
    with pytest.raises(CommitConflict, match="read-only"):
        old.append_delta(_rows(spark, old, [
            ("r", 0, "user", "x", None, TS, False, 500, 0)]))
    assert LakeTable(spark, path).version == t1.version


def test_link_commit_cannot_tear_and_orphan_tmp_is_vacuumed(spark, tmp_path):
    """ADVICE r05: the commit point is now tmp-write+fsync+os.link, so the
    v{N}.json name only ever appears with COMPLETE content — a crash before
    the link leaves only a hidden tmp (vacuumed after the grace), never an
    unparseable committed name; and a lost link race is a plain conflict
    with the winner's file intact."""
    import glob
    import json as _json
    import os

    path = str(tmp_path / "t_link")
    t1 = _mk_table(spark, path)
    v = t1.version
    meta = os.path.join(path, "metadata")
    # simulate a crash mid-commit: the tmp exists, the link never happened
    orphan = os.path.join(meta, f".v{v + 1}.deadbeef.tmp")
    with open(orphan, "w") as f:
        f.write('{"version": %d}' % (v + 1))
    # every committed v*.json parses (no torn name can exist)
    for fn in os.listdir(meta):
        if fn.startswith("v") and fn.endswith(".json"):
            with open(os.path.join(meta, fn)) as f:
                _json.load(f)
    fresh = LakeTable(spark, path)
    assert fresh.version == v  # the orphan tmp is invisible to readers
    fresh.commit_summary({"batch_id": 5})  # the slot is still free
    assert fresh.version == v + 1
    old = 0
    os.utime(orphan, (old, old))
    fresh.vacuum(grace_seconds=1.0)
    assert not glob.glob(os.path.join(meta, ".v*.tmp")), "orphan tmp kept"
    # no stray tmp files leak from successful commits either
    assert not glob.glob(os.path.join(meta, ".v*.tmp"))


def test_link_commit_retakes_after_vacuumed_tmp(spark, tmp_path, monkeypatch):
    """A writer paused past vacuum's grace finds its snapshot tmp gone at
    ``os.link`` (FileNotFoundError). Nothing was committed, so it is a
    retryable conflict: the retry loop writes a fresh tmp and commits."""
    import glob
    import os

    path = str(tmp_path / "t_link_vacuumed")
    t1 = _mk_table(spark, path)
    v = t1.version
    real_link = os.link
    calls = []

    def link(src, dst):
        calls.append(src)
        if len(calls) == 1:
            os.remove(src)  # the concurrent vacuum reclaimed it
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link)
    t1.commit_summary({"batch_id": 11})
    assert len(calls) == 2
    assert t1.version == v + 1 and t1.summary["batch_id"] == 11
    assert LakeTable(spark, path).version == v + 1
    assert not glob.glob(os.path.join(path, "metadata", ".v*.tmp"))


def test_link_commit_without_hardlinks_is_a_clear_error(spark, tmp_path,
                                                        monkeypatch):
    """On a filesystem that refuses hardlinks (``os.link`` → EPERM) the
    commit fails loudly, naming the metadata dir, leaves no tmp behind, and
    commits nothing."""
    import errno
    import glob
    import os

    path = str(tmp_path / "t_link_nolinks")
    t1 = _mk_table(spark, path)
    v = t1.version

    def link(src, dst):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(os, "link", link)
    meta = os.path.join(path, "metadata")
    with pytest.raises(OSError, match="lacks hardlinks") as exc:
        t1.commit_summary({"batch_id": 12})
    assert meta in str(exc.value)
    monkeypatch.undo()
    assert LakeTable(spark, path).version == v
    assert not glob.glob(os.path.join(meta, ".v*.tmp"))
