"""Test helpers: engine-vs-oracle final-state comparison."""

from __future__ import annotations

import pandas as pd
import pandas.testing as pdt

from mimic_iv_etl_spark.cdc.changelog import TRANSCRIPT_SCHEMA  # noqa: F401


def normalize_pdf(df: pd.DataFrame) -> pd.DataFrame:
    """Sort by key, reset index, canonicalize NaN/None and timestamp units."""
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            pass
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df


def assert_final_state_equal(engine_df, oracle_pdf: pd.DataFrame) -> None:
    """Per-turn equality under stable (conv_id, turn_idx) ordering — the
    north-rule invariant."""
    got = normalize_pdf(engine_df.toPandas())
    want = normalize_pdf(oracle_pdf)
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    pdt.assert_frame_equal(got, want, check_dtype=False)


def jobs_started(spark) -> int:
    """Highest Spark job id the status tracker has seen (-1: none yet), read
    after the listener bus drains so a job a call just ran is counted. The
    difference across a call is the number of jobs it started."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _py4j_commands(spark, build) -> int:
    """Py4J commands the calling thread sends while ``build()`` runs, with
    the garbage collector paused so no JVM-reference release lands inside.
    Only the calling thread counts: Py4J's finalizer thread sends its
    memory-release commands whenever it runs, and those are not plan
    construction."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    n = 0

    def counted(*args, **kwargs):
        nonlocal n
        if threading.get_ident() == caller:
            n += 1
        return send(*args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counted
    try:
        build()
    finally:
        del client.send_command
        gc.enable()
    return n


def _janino_compiles(spark) -> int:
    """Generated-code classes Janino has compiled in this JVM so far (driver
    and, in local mode, every task: they share one ``CodegenMetrics``). The
    difference across a call is the number of cache misses it paid."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
