"""spark-submit entry point for change-log replay.

Cluster usage (north rule: ``spark-submit --py-files`` at N and 4N executors):

    zip -r mimic_iv_etl_spark.zip mimic_iv_etl_spark
    spark-submit --py-files mimic_iv_etl_spark.zip \
        --driver-memory 8g --driver-java-options -XX:+UseParallelGC \
        scripts/run_replay.py \
        --log-dir /path/to/changelog --table /path/to/table \
        [--batch-offsets 1000000] [--buckets 256] [--auto-compact-deltas 8]

The master and the driver JVM's settings come from the launcher
(``--master``; plain ``python scripts/run_replay.py ...`` runs PySpark's
``local[*]``), the session and SQL confs from ``get_spark_session``.

Prints one JSON line with events applied, seconds, events/sec and the
session it ran on (master, parallelism, shuffle partitions, time zone).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def session_report(spark) -> dict:
    """The session a job ran on: master, parallelism, shuffle partitions and
    time zone."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        "time_zone": spark.conf.get("spark.sql.session.timeZone"),
    }


def main() -> None:
    from mimic_iv_etl_spark.cdc.changelog import TRANSCRIPT_SCHEMA
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from mimic_iv_etl_spark.session import get_spark_session

    p = argparse.ArgumentParser()
    p.add_argument("--log-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--batch-offsets", type=int, default=1_000_000)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--auto-compact-deltas", type=int, default=None,
                   help="compact buckets holding more delta files than this")
    p.add_argument("--decode-payload", action="store_true",
                   help="events arrive JSON-encoded; decode winners post-LWW")
    p.add_argument("--normalize", action="store_true",
                   help="NFC-normalize winner text (Arrow pandas UDF)")
    args = p.parse_args()

    spark = get_spark_session("cdc-replay")
    # stop before the interpreter exits, on success or error: otherwise the
    # JVM's shutdown hooks race a standalone worker still relaunching
    # executors
    try:
        out = replay_log(
            spark,
            args.log_dir,
            args.table,
            schema=TRANSCRIPT_SCHEMA,
            batch_offsets=args.batch_offsets,
            n_buckets=args.buckets,
            auto_compact_deltas=args.auto_compact_deltas,
            decode_payload=args.decode_payload,
            normalize=args.normalize,
        )
        out["session"] = session_report(spark)
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
