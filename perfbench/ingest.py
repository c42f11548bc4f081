"""The ``bulk_then_trickle`` workload: load, stream, then serve one table.

One pass follows a table's life in a CDC deployment, into a fresh
``lake.table``:

1. **bulk**: ``replay_log`` drains a 200k-event base log (source partitions
   0-7, no payload) in three wide offset windows. The scan, the LWW locator
   aggregate and the parquet write carry this phase, so kernel and
   write-path changes show here.
2. **trickle**: ``stream_log`` (``availableNow``, one file per trigger)
   drains a 40k-event update log (source partitions 8-15, JSON payloads
   decoded after dedup, a schema change halfway) as four micro-batches of
   about 10k events, one commit each. Per-batch fixed cost (plan building
   over Py4J, the commit protocol, sidecars, trigger machinery) carries
   this phase.
3. **serve**: merge-on-read ``read``, ``read_keys`` of the hot and a cold
   conversation, ``changes(0)``, ``compact``, and ``read`` again, so a
   write-side gain that costs reads shows too.

Both drains are closed loops: the next batch starts when the previous one
has committed. After the timed passes the table is compared with the
independent DuckDB replay of both logs (``cdc.oracle``).
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pandas.testing as pdt

# Same columns and types as tests/util.py TRANSCRIPT_SCHEMA; built lazily so
# importing this module does not import pyspark.
_SCHEMA_FIELDS = [("conv_id", "string", False), ("turn_idx", "integer", False),
                  ("role", "string", True), ("text", "string", True),
                  ("tool", "string", True), ("ts", "timestamp_ntz", False)]
N_BUCKETS = 4
BULK = dict(n_events=200_000, n_convs=10_000, n_partitions=8, payload=False,
            files_per_tranche=4)
# the hot conversation's partition holds 20% of the log plus 1/8 of the
# rest, ~60k offsets, so 20k offsets per window gives three windows
BULK_BATCH_OFFSETS = 20_000
TRICKLE = dict(n_events=40_000, n_convs=2_000, n_partitions=8, payload=True,
               evolve_at=0.5, files_per_tranche=2, partition_base=8)
READS = ("lake.table.read", "lake.table.read_keys", "lake.table.changes",
         "lake.table.compact", "lake.table.compacted_read")


def transcript_schema():
    from pyspark.sql import types as T

    types = {"string": T.StringType(), "integer": T.IntegerType(),
             "timestamp_ntz": T.TimestampNTZType()}
    return T.StructType([T.StructField(n, types[t], nullable)
                         for n, t, nullable in _SCHEMA_FIELDS])


def normalize_pdf(df: pd.DataFrame) -> pd.DataFrame:
    """The canonical final-state form of tests/util.py: sorted by key, index
    reset, timestamps at microseconds, missing objects as None."""
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    got, want = normalize_pdf(got), normalize_pdf(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    try:
        pdt.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError as e:
        return False, str(e).splitlines()[0][:200]
    return True, f"{len(got)} rows"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _span(name: str):
    return lambda tracer: tracer.wrap(name)


class BulkThenTrickle:
    name = "bulk_then_trickle"
    ops_per_pass = 2 + len(READS)  # two drains, five reads
    # a pass takes ~10 s after a ~26 s cold pass; two per run keep a
    # benchmark round (48 runs) inside its 3,420 s budget on a slow host
    min_passes = 2
    # per-operation latency: each apply_batch call, at both import sites
    op_sites = ["mimic_iv_etl_spark.cdc.replay:apply_batch",
                "mimic_iv_etl_spark.cdc.stream:apply_batch"]
    # (import site, span factory); the engine imports these names directly,
    # so each is wrapped where it is looked up
    trace_sites = [
        ("mimic_iv_etl_spark.cdc.replay:apply_batch", _span("cdc.apply.apply_batch")),
        ("mimic_iv_etl_spark.cdc.stream:apply_batch", _span("cdc.apply.apply_batch")),
        # the locator job is the toPandas of the DataFrame this returns
        ("mimic_iv_etl_spark.cdc.apply:lww_winner_locators",
         lambda tracer: tracer.wrap_result_method("toPandas", "cdc.apply.locator_job")),
        ("mimic_iv_etl_spark.lake.table:LakeTable.stage_delta", _span("lake.table.stage_delta")),
        ("mimic_iv_etl_spark.lake.table:LakeTable.commit_delta", _span("lake.table.commit_delta")),
        ("mimic_iv_etl_spark.cdc.apply:append_metrics", _span("cdc.metrics.sidecar")),
        ("mimic_iv_etl_spark.cdc.apply:append_lineage", _span("cdc.metrics.sidecar")),
        ("mimic_iv_etl_spark.cdc.replay:flush_sidecars", _span("cdc.metrics.sidecar")),
        ("mimic_iv_etl_spark.cdc.metrics:flush_sidecars", _span("cdc.metrics.sidecar")),
    ]

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.bulk_log = ctx.path("logs/bulk")
        self.trickle_log = ctx.path("logs/trickle")
        self.table = ctx.path("table")
        self.ckpt = ctx.path("ckpt")

    def setup(self) -> dict:
        from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log

        seed = self.ctx.seed
        t0 = time.perf_counter()
        generate_change_log(self.bulk_log, ChangeLogSpec(seed=seed, **BULK))
        generate_change_log(self.trickle_log,
                            ChangeLogSpec(seed=seed + 1_000_003, **TRICKLE))
        t1 = time.perf_counter()
        # the first pass in a fresh JVM pays class loading, codegen and JIT;
        # it is set-up, and its time is reported as the cold pass
        cold = self.run_pass()
        return {"inputs_gen_s": t1 - t0, "warmup_s": time.perf_counter() - t1,
                "cold_pass_s": cold}

    def _replay(self):
        from mimic_iv_etl_spark.cdc.replay import replay_log

        return replay_log(self.ctx.spark, self.bulk_log, self.table,
                          schema=transcript_schema(),
                          batch_offsets=BULK_BATCH_OFFSETS, n_buckets=N_BUCKETS)

    def _stream(self, ckpt: str, on_batch=None) -> None:
        from mimic_iv_etl_spark.cdc.stream import stream_log

        stream_log(self.ctx.spark, self.trickle_log, self.table, ckpt,
                   schema=transcript_schema(), n_buckets=N_BUCKETS,
                   max_files_per_trigger=1, decode_payload=True,
                   on_batch=on_batch)

    def run_pass(self) -> float:
        from mimic_iv_etl_spark.lake.table import LakeTable

        ctx = self.ctx
        for d in (self.table, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        with ctx.timed("cdc.replay.replay_log"):
            self._replay()
        ctx.spark_mark("bulk")
        with ctx.timed("cdc.stream.stream_log"):
            self._stream(self.ckpt)
        ctx.spark_mark("trickle")
        table = LakeTable(ctx.spark, self.table)
        cold_key = f"conv-{TRICKLE['n_convs'] // 2:06d}"
        with ctx.timed("lake.table.read"):
            noop(table.read())
        with ctx.timed("lake.table.read_keys"):
            noop(table.read_keys(["conv-000000", cold_key]))
        with ctx.timed("lake.table.changes"):
            noop(table.changes(0))
        with ctx.timed("lake.table.compact"):
            table.compact()
        with ctx.timed("lake.table.compacted_read"):
            noop(table.read())
        wall = time.perf_counter() - t0
        ctx.spark_mark("serve")
        return wall

    # -- checks, outside every timed region --------------------------------
    def checks(self) -> None:
        from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
        from mimic_iv_etl_spark.lake.table import LakeTable

        ctx = self.ctx
        t0 = time.perf_counter()
        # the oracle replays every change-log file under one directory
        both = ctx.path("logs/both")
        os.makedirs(both, exist_ok=True)
        tranches = [os.path.join(self.bulk_log, "tranche-0")] + sorted(
            os.path.join(self.trickle_log, t) for t in os.listdir(self.trickle_log)
            if t.startswith("tranche-"))
        for i, tranche in enumerate(tranches):
            os.symlink(tranche, os.path.join(both, f"tranche-{i}"))
        t_oracle = time.perf_counter()
        want = duckdb_final_state(both)
        self.oracle_s = time.perf_counter() - t_oracle
        table = LakeTable(ctx.spark, self.table)
        ctx.check("final_state_matches_oracle",
                  *frames_equal(table.read().toPandas(), want))
        keys = ["conv-000000", f"conv-{BULK['n_convs'] - 1:06d}"]
        ctx.check("read_keys_matches_oracle",
                  *frames_equal(table.read_keys(keys).toPandas(),
                                want[want["conv_id"].isin(keys)]))
        names = {f.name for f in table.schema.fields}
        ctx.check("schema_evolved", {"tool_version", "latency_ms"} <= names,
                  ",".join(sorted(names)))
        # exactly-once: re-deliver both logs (the stream from a fresh
        # checkpoint); every batch is at or below the committed high-water
        # marks and must apply nothing
        version = table.version
        t1 = time.perf_counter()
        applied = self._replay()["events_applied"]
        self.resume_s = time.perf_counter() - t1
        streamed: list[int] = []
        self._stream(ctx.path("ckpt_redeliver"),
                     on_batch=lambda _e, s: streamed.append(s["events_applied"]))
        table.refresh()
        ctx.check("redelivery_applies_nothing",
                  applied == 0 and sum(streamed) == 0 and table.version == version,
                  f"replay applied {applied}, stream applied {sum(streamed)} in "
                  f"{len(streamed)} batches, version {version} -> {table.version}")
        self.check_s = time.perf_counter() - t0

    # -- layer report -------------------------------------------------------
    def table_layers(self) -> dict:
        from mimic_iv_etl_spark.cdc.metrics import read_metrics
        from mimic_iv_etl_spark.lake.table import LakeTable

        spark = self.ctx.spark
        table = LakeTable(spark, self.table)
        m = read_metrics(spark, self.table).toPandas()
        events_in = int(m["events_in"].sum()) if len(m) else 0
        winners = int(m["winners"].sum()) if len(m) else 0
        return {
            "cdc.apply.events_in": events_in,
            "cdc.apply.winners": winners,
            "cdc.apply.winner_ratio": winners / events_in if events_in else 0.0,
            "cdc.apply.batches": int((~m["skipped"].astype(bool)).sum()) if len(m) else 0,
            "lake.table.files": len(table.files),
            "lake.table.delta_files": sum(table.delta_file_counts().values()),
            "lake.table.bytes_written": _dir_bytes(os.path.join(self.table, "data")),
            "lake.table.snapshots": len(table.history()),
        }
