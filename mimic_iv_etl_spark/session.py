"""SparkSession construction.

Parity: the reference builds its session in
``src/mimicfouretl/bigquery_utils.py:66-92`` (``get_spark_session``), wiring a
BigQuery connector. This engine is lake-native: the session is plain local/
cluster Spark with AQE on, Arrow on, UTC timezone (required so results compare
bit-exact against the DuckDB oracle, whose timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark_session(
    app_name: str = "mimic_iv_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master=None`` leaves ``spark.master`` to the launcher: spark-submit's
    ``--master``, or PySpark's own ``local[*]`` under plain ``python``.
    ``shuffle_partitions=None`` keeps the launcher's or ``extra_conf``'s
    value, else uses one per core (the stock 200 is wrong at both ends).
    Under spark-submit, driver memory and GC options go to the launcher.
    """
    # Python workers import package-level functions referenced by pandas-UDF
    # closures by name (cloudpickle serializes module functions by reference);
    # in local mode workers inherit PYTHONPATH from this process, so make the
    # package importable regardless of the caller's cwd. Cluster deployments
    # ship the package with spark-submit --py-files instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing shrinks our deliberately core-count-sized shuffles down
        # to a handful of fat partitions (64MB advisory) and serializes the
        # dedup/write stages — measured 3.7× slower CDC replay at local[32].
        # On a real cluster with dynamic allocation, re-enable per job.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy stays at Spark defaults (SMJ-preferred, 10 MB auto-
        # broadcast): a round-6 experiment with preferSortMergeJoin=false +
        # 512m SHJ local-map + 64m auto-broadcast measured a consistent net
        # LOSS on the join-bearing analytics (readmission 1.1-1.4s → 1.6s,
        # minhash 3.6s → 4.7s at sf1.0).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        # zstd over lz4: the CDC hot path is memory-bandwidth-bound (parquet
        # string vectors, JSON payloads through the LWW shuffle) while CPU
        # scales better with cores on this host AND on real clusters (each
        # node adds a memory controller but shuffle still crosses a shared
        # network) — trading CPU for bytes raises measured 4→16-core replay
        # scaling from ~0.72 to ~0.86 and is the standard large-cluster choice
        .config("spark.io.compression.codec", "zstd")
        # finer input splits: 48MB keeps scan-stage waves balanced at high
        # core counts (a 128MB-split scan of a 3GB tranche is only ~24 tasks
        # — 1.5 waves at 16 cores, a built-in 25% straggler tax)
        .config("spark.sql.files.maxPartitionBytes", "48m")
        # Generated-code cache sized to the working set. Spark's stock 100
        # entries thrash: one pass of the 16 bench queries needs 214
        # whole-stage-codegen classes and all 50 registry entries at sf0.01
        # need 478, so at 100 every warm pass recompiled ~212 classes with
        # Janino and the JIT compiled them afresh. At 2000 a warm pass of the
        # 16 queries compiles 0 and runs ~22% faster on 4 cores. Ingest code
        # is batch-invariant: a small-log replay compiles 40 classes once and
        # 0 on every replay after it. Local-mode tasks share this JVM's cache.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # No per-call Python call-site capture. With it on (PySpark's
        # default), every `F.col` and Column method call walks the Python
        # stack and adds ~5 Py4J round trips (active
        # session, conf read, origin set and clear): a warm apply_batch on
        # the Column-built agg kernel sends 537 Py4J commands with it and
        # 227 without. Errors keep their class, SQLSTATE and message; only
        # the Python file:line in the DataFrame query context is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "32g")
        # Throughput GC for batch ingest: G1 (the Java 17 default) trades
        # throughput for pause goals; this engine's hot path is allocation-
        # heavy string work (parquet string vectors, JSON parse) where G1's
        # concurrent marking contends with 32 mutator threads — interleaved
        # A/B at local[32] measured ParallelGC 15-40% faster on full replay.
        # Pause-insensitive by construction (micro-batch sink, no SLA reads).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    # Local-mode shuffle goes through spark.local.dir on ONE shared disk —
    # 8 threads already saturate it, so core scaling stalls on I/O that a
    # real cluster distributes across per-node disks. tmpfs restores the
    # per-node-bandwidth assumption for sandbox scaling measurements.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    key = "spark.sql.shuffle.partitions"
    conf = {} if shuffle_partitions is None else {key: str(shuffle_partitions)}
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if key not in conf and not spark.sparkContext.getConf().contains(key):
        _size_shuffles(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _size_shuffles(spark: SparkSession) -> None:
    """One shuffle partition per core of the job. ``getOrCreate`` waits for
    executors on YARN and Kubernetes but not on a standalone master, where a
    fresh session's ``defaultParallelism`` reads its floor of 2: there the
    master URL or ``--total-executor-cores`` gives the size, or nothing."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    if sc.master.startswith("local-cluster["):
        workers, per_worker, _ = sc.master[len("local-cluster["):-1].split(",")
        cores = int(workers) * int(per_worker)
    elif sc.master.startswith("spark://"):
        cores = int(sc.getConf().get("spark.cores.max", "0"))
    if cores:
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
