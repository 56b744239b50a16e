"""SparkSession factory with scale-appropriate defaults.

Local mode is the test/bench harness; the same config block is what we'd
ship in ``spark-submit --conf`` on a real multi-executor cluster (AQE on,
skew-join on, Arrow on, UTC session TZ for oracle comparability, a
generated-code class cache of 4096 entries so repeated runs in one JVM
reuse their compiled stage plans, and ``dedupe_trees_spark.worker_daemon``
as the Python worker daemon so UDF tasks stop re-reading ``pyspark.zip``).
Executors must be able to import ``dedupe_trees_spark`` to start that
daemon, as they already must to unpickle the engine's UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dedupe_trees_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to 2× the core count — small enough to
    avoid tiny-task overhead locally, and AQE coalesces further at runtime.
    On a real cluster these two knobs come from spark-submit instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan parallelism must scale with cores, not file sizes: the
        # default 128 MB per scan partition caps a ~1 GB stage at ~8
        # tasks — pandas-UDF stages then can't use >8 cores at all
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        # long-lived driver hygiene: localCheckpoint blocks (CC rounds,
        # per-query materialized intermediates) are reclaimed by the
        # ContextCleaner only after a JVM GC notices the dropped
        # references — the 30min default lets tens of finished queries'
        # blocks pile up in storage memory first. 2min bounds that
        # accumulation on any deployment; no effect on results.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # whole-stage codegen classes live in a per-JVM LRU cache (the
        # driver in local mode, each executor on a cluster) whose default
        # of 100 entries is below one DedupePipeline.run's ~130 distinct
        # code bodies. An LRU smaller than a cyclic working set hits 0%,
        # so every warm run recompiled 123-125 classes (Janino, then the
        # JIT). Measured working sets in one JVM: a batch run ~130; plus
        # the incremental path and 13 query leaves ~750;
        # tools/check_contract.py over every query 1047. 4096 leaves
        # ~3.9x headroom over the largest.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # the Python worker daemon: PySpark's own, with every forked worker
        # re-reading a zip archive on sys.path only when it changed, where
        # stock workers re-read pyspark.zip ~15 times per UDF task
        # (0.15-0.29 s of CPU each; see worker_daemon.py)
        .config("spark.python.daemon.module", "dedupe_trees_spark.worker_daemon")
    )
    # shuffle/spill dir: a single local disk does not scale with thread
    # count the way a real cluster's per-node disks do — benchmarks point
    # this at tmpfs (SPARK_GRAFT_LOCAL_DIR=/dev/shm/...) so scaling
    # numbers measure the engine, not the sandbox's one virtual disk
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
