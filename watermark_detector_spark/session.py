"""SparkSession builder with the engine's config profile.

The profile encodes the scale posture (SURVEY.md §4): AQE on (runtime
re-planning + skew-join splitting + partition coalescing), Arrow enabled
for every pandas-UDF boundary, shuffle partitions sized to the local
core count (on a real cluster this would be ~2-3x total executor cores),
and UTC timestamps so event-time semantics are timezone-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local-mode defaults sized from the host this process may run on; on a
# real cluster these come from spark-submit --conf and the same builder
# applies them.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))


def _default_driver_memory() -> str:
    """About half of physical RAM (``/proc/meminfo`` MemTotal), capped
    at 48g. In local mode the driver JVM is the executor; a heap sized
    past physical RAM on a host without swap gets the JVM OOM-killed
    instead of garbage-collected."""
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh
                   if ln.startswith("MemTotal:"))
    return f"{max(1, min(48, kib // (2 * 1024 * 1024)))}g"


def engine_conf(cpus: int = DEFAULT_CPUS) -> dict[str, str]:
    """The engine's config profile as a plain dict (testable, inspectable)."""
    return {
        # --- planner / runtime re-planning ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing: ~cores in local mode; cluster would use 2-3x cores
        "spark.sql.shuffle.partitions": str(max(cpus, 4)),
        # --- Arrow boundary for pandas UDFs (extract/detect hot path) ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # re-measured round 3 (detect is ~5x cheaper per row since the
        # token scan, so Arrow framing overhead now dominates the old
        # pipelining concern): 200k-page fused extract+detect stage runs
        # 71.8k/79.0k/81.3k docs/s at 1024/4096/16384. 4096 takes most
        # of the win at ~18 MB per batch per core (16384's ~74 MB would
        # pressure small executors at the 100 TB operating point).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # --- event-time stability ---
        "spark.sql.session.timeZone": "UTC",
        # --- custom Python data sources (sources/warcish.py) push
        #     metadata equality filters below payload materialization ---
        "spark.sql.python.filterPushdown.enabled": "true",
        # --- scan sizing: partitions that fit executor memory at scale ---
        "spark.sql.files.maxPartitionBytes": "128m",
        # --- streaming state store: RocksDB when the build ships it;
        #     semantics are identical with the default HDFS-backed provider,
        #     so tests pass either way (SURVEY.md §7 step 6 hard part e).
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


def get_spark_cluster(
    n_executors: int,
    cores_per_executor: int = 8,
    executor_mem: str = "6g",
    app_name: str = "watermark_detector_spark",
    extra_conf: dict[str, str] | None = None,
    py_files: str | None = None,
) -> SparkSession:
    """Multi-executor session via Spark's local-cluster manager: each
    executor is a SEPARATE JVM with its own python worker pool — the
    faithful sandbox stand-in for an N-executor cluster (scaling runs
    compare n_executors=N vs 4N at fixed executor size). The engine
    package ships to executors via py-files, same as spark-submit."""
    builder = (
        SparkSession.builder.master(
            f"local-cluster[{n_executors},{cores_per_executor},8192]"
        )
        .appName(app_name)
        .config("spark.executor.memory", executor_mem)
    )
    conf = engine_conf(cores_per_executor)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if py_files:
        builder = builder.config("spark.submit.pyFiles", py_files)
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if py_files:
        spark.sparkContext.addPyFile(py_files)
    return spark


def get_spark(
    app_name: str = "watermark_detector_spark",
    cpus: int = DEFAULT_CPUS,
    extra_conf: dict[str, str] | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    local mode in the sandbox; on a cluster, master/memory come from
    spark-submit and only the profile confs below apply.
    """
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = engine_conf(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    # local mode: the driver JVM IS the executor — size it accordingly
    # (ignored when a JVM already exists)
    builder = builder.config(
        "spark.driver.memory", driver_memory or _default_driver_memory()
    )
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
