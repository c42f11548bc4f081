"""The deployment path end to end: the packaged engine under
``spark-submit --py-files`` on a three-executor ``local-cluster``, run from
a directory outside the repo so every engine import resolves from the zip.

Both ingest drivers run with payload decode and NFC normalize on:
``scripts/run_replay.py`` and a small ``stream_log`` driver. Each must run
on the launcher's master with the confs ``get_spark_session`` sets, land the
DuckDB oracle's final state, and leave no JVM running once it exits. Three
executor JVMs make every broadcast, closure and Python worker cross a
process boundary, which ``local[N]`` never does; with three, the session's
shuffle partitions cannot match the scheduler's floor of 2 by chance."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import time
import unicodedata
import zipfile
from types import SimpleNamespace

import pytest
from pyspark.find_spark_home import _find_spark_home

from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log
from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
from mimic_iv_etl_spark.lake.table import LakeTable
from mimic_iv_etl_spark.session import _size_shuffles
from tests.util import assert_final_state_equal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local-cluster[3,1,1024]"
SESSION = {"master": MASTER, "default_parallelism": 3,
           "shuffle_partitions": 3, "time_zone": "UTC"}

STREAM_DRIVER = """
import json, sys
from mimic_iv_etl_spark.cdc.changelog import TRANSCRIPT_SCHEMA
from mimic_iv_etl_spark.cdc.stream import stream_log
from mimic_iv_etl_spark.session import get_spark_session
from run_replay import session_report

log_dir, table, checkpoint = sys.argv[1:]
spark = get_spark_session("cdc-stream")
stream_log(spark, log_dir, table, checkpoint, schema=TRANSCRIPT_SCHEMA,
           n_buckets=8, decode_payload=True, normalize=True)
print(json.dumps({"session": session_report(spark)}))
spark.stop()
"""


def _spark_home(work: str) -> str:
    """A SPARK_HOME of symlinks to the installed one. A local-cluster worker
    puts each executor's work dir under ``$SPARK_HOME/work``; this keeps
    those dirs in ``work``, and every JVM a submit starts carries the
    returned path on its command line."""
    real = _find_spark_home()
    home = os.path.join(work, "spark_home")
    os.mkdir(home)
    for name in os.listdir(real):
        if name != "work":
            os.symlink(os.path.join(real, name), os.path.join(home, name))
    return home


def _processes_naming(path: str) -> list[str]:
    """Command lines of live processes that mention ``path``."""
    found = []
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdline, "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # exited while we looked
        if path in cmd:
            found.append(cmd)
    return found


def _submit(home: str, work: str, *argv: str,
            conf: tuple[str, ...] = ()) -> dict:
    """Run one spark-submit job from ``work`` and return its JSON line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_HOME"] = home
    t0 = time.monotonic()
    proc = subprocess.run(
        [os.path.join(home, "bin", "spark-submit"), "--master", MASTER,
         "--py-files", "mimic_iv_etl_spark.zip",
         *(a for c in conf for a in ("--conf", c)), *argv],
        cwd=work, env=env, capture_output=True, text=True, timeout=900)
    print(f"spark-submit {argv[0]}: {time.monotonic() - t0:.1f} s")
    assert proc.returncode == 0, proc.stderr[-5000:]
    # a session left running at exit races the worker's executor relaunches
    assert "Failed to launch executor" not in proc.stderr
    assert not _processes_naming(home), "a JVM outlived its spark-submit"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spark_submit_local_cluster_matches_oracle(spark, tmp_path):
    work = str(tmp_path)
    with zipfile.ZipFile(os.path.join(work, "mimic_iv_etl_spark.zip"),
                         "w") as zf:
        for path in sorted(glob.glob(
                os.path.join(REPO, "mimic_iv_etl_spark", "**", "*.py"),
                recursive=True)):
            zf.write(path, os.path.relpath(path, REPO))
    shutil.copy(os.path.join(REPO, "scripts", "run_replay.py"), work)
    with open(os.path.join(work, "stream_driver.py"), "w") as f:
        f.write(STREAM_DRIVER)
    log = os.path.join(work, "log")
    spec = ChangeLogSpec(n_events=20_000, n_convs=500, seed=3)
    generate_change_log(log, spec)
    home = _spark_home(work)

    # a shuffle-partition count the launcher passes is kept
    streamed = _submit(home, work, "stream_driver.py", log,
                       os.path.join(work, "t_stream"),
                       os.path.join(work, "ckpt"),
                       conf=("spark.sql.shuffle.partitions=5",))
    assert streamed["session"] == {**SESSION, "shuffle_partitions": 5}
    replayed = _submit(home, work, "run_replay.py", "--log-dir", log,
                       "--table", os.path.join(work, "t_replay"),
                       "--batch-offsets", "2000", "--buckets", "8",
                       "--decode-payload", "--normalize")
    assert replayed["session"] == SESSION
    assert replayed["events_applied"] == spec.n_events

    want = duckdb_final_state(log)
    want["text"] = want["text"].map(
        lambda t: unicodedata.normalize("NFC", " ".join(t.split()))
        if isinstance(t, str) else t)
    for table in ("t_stream", "t_replay"):
        assert_final_state_equal(
            LakeTable(spark, os.path.join(work, table)).read(), want)


@pytest.mark.parametrize("master, conf, partitions", [
    ("local-cluster[4, 2, 1024]", {}, "8"),
    # a standalone master: the launcher's core cap, or Spark's default
    ("spark://host:7077", {"spark.cores.max": "12"}, "12"),
    ("spark://host:7077", {}, None),
    # YARN and Kubernetes wait for executors, so defaultParallelism holds
    ("yarn", {}, "6"),
    ("local[4]", {}, "6"),
])
def test_shuffle_partitions_follow_planned_cores(master, conf, partitions):
    """The sizes the two-job test above cannot reach: a fresh standalone
    session reads ``defaultParallelism`` before executors register, so
    ``_size_shuffles`` must not take it there."""
    sql_conf = {}
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(master=master, defaultParallelism=6,
                                     getConf=lambda: conf),
        conf=SimpleNamespace(set=sql_conf.__setitem__))
    _size_shuffles(spark)
    assert sql_conf.get("spark.sql.shuffle.partitions") == partitions
