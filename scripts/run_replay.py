"""spark-submit entry point for change-log replay.

Cluster usage (north rule: ``spark-submit --py-files`` at N and 4N executors):

    zip -r mimic_iv_etl_spark.zip mimic_iv_etl_spark
    spark-submit --py-files mimic_iv_etl_spark.zip scripts/run_replay.py \
        --log-dir /path/to/changelog --table /path/to/table \
        [--batch-offsets 1000000] [--buckets 256] [--auto-compact-deltas 8]

Sandbox usage (local mode): plain ``python scripts/run_replay.py ...`` —
the session helper builds ``local[$SPARK_GRAFT_CPUS]``.

Prints one JSON line with events applied, seconds, events/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

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

    # under spark-submit, --master/--conf arrive via SparkConf defaults — use
    # them untouched; standalone invocation builds the tuned local session
    from pyspark import SparkConf

    spark = SparkSession.getActiveSession()
    if spark is None and SparkConf().contains("spark.master"):
        spark = SparkSession.builder.getOrCreate()
    elif spark is None:
        spark = get_spark_session("cdc-replay")

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
    print(json.dumps(out))


if __name__ == "__main__":
    main()
