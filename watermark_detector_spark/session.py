"""SparkSession builder with the engine's config profile.

The profile encodes the scale posture (SURVEY.md §4): AQE on (runtime
re-planning + skew-join splitting + partition coalescing), Arrow enabled
for every pandas-UDF boundary, shuffle partitions sized to the local
core count (on a real cluster this would be ~2-3x total executor cores),
and UTC timestamps so event-time semantics are timezone-stable. Where
the JDK's ``javac`` is present, ``file://`` goes through a local
filesystem that does not start a process per checkpoint, log or sink
file (``_local_fs_conf``). Where Python workers can import the package,
they fork from the engine's warm pyspark daemon (``_python_daemon_conf``).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from watermark_detector_spark._pyworker import build_once

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


_FS_SOURCE = os.path.join(os.path.dirname(__file__), "_jvm", "NoForkLocalFs.java")
_FS_CLASS = "watermark_detector_spark.NoForkLocalFs"


@functools.lru_cache(maxsize=None)
def _local_fs_classes() -> str | None:
    """Directory holding ``_jvm/NoForkLocalFs.java`` compiled against the
    Hadoop client jar of the Spark install PySpark launches, or None
    (no source, no jar or no ``javac``). Compiled once per (source hash,
    jar name) into the engine's cache (``_pyworker.build_once``)."""
    try:
        with open(_FS_SOURCE, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    except OSError:  # e.g. imported from a --py-files zip
        return None
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    javac = shutil.which("javac")
    if not jars or javac is None:
        return None
    jar = os.path.splitext(os.path.basename(jars[-1]))[0]
    return build_once(f"localfs-{digest}-{jar}", lambda tmp: subprocess.run(
        [javac, "--release", "17", "-cp", jars[-1], "-d", tmp, _FS_SOURCE],
        check=True, capture_output=True, timeout=120))


def _local_fs_conf() -> dict[str, str]:
    """Route ``file://`` through ``NoForkLocalFs`` when its classes will be
    on the JVM's classpath: this process is about to launch the JVM (the
    conf puts the class dir on it), or the running JVM already loads the
    class. Otherwise (no ``javac``; a JVM launched elsewhere, e.g. by
    spark-submit) Hadoop's stock local filesystem stays: same files,
    slower commits. Local-cluster executors are JVMs on this host and
    get the same class dir."""
    jvm = SparkContext._jvm
    if jvm is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}  # launched by spark-submit, with its own classpath
    if jvm is not None:
        try:
            jvm.java.lang.Class.forName(_FS_CLASS)
        except Py4JError:
            return {}
    classes = _local_fs_classes()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.executor.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_FS_CLASS}$Fs",
    }


_DAEMON_KEY = "spark.python.daemon.module"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _python_daemon_conf() -> dict[str, str]:
    """Fork Python workers from the engine daemon (``_pydaemon``, which
    starts warm: see ``_pyworker``) when the daemon can import it: the
    package root is the JVM's cwd, which ``python -m`` puts first on the
    daemon's path, or a ``PYTHONPATH`` entry. Not under spark-submit,
    whose JVM and workers start elsewhere. Otherwise pyspark's stock
    daemon runs: same outputs, slower worker start-up."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    jvm = SparkContext._jvm
    if jvm is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH")
    else:
        system = jvm.java.lang.System
        cwd, pythonpath = system.getProperty("user.dir"), system.getenv("PYTHONPATH")
    paths = (pythonpath or "").split(os.pathsep) + [cwd]
    if _PACKAGE_ROOT not in {os.path.realpath(p) for p in paths if p}:
        return {}
    return {_DAEMON_KEY: "watermark_detector_spark._pydaemon"}


def engine_conf(cpus: int = DEFAULT_CPUS) -> dict[str, str]:
    """The engine's config profile as a plain dict (testable, inspectable)."""
    return _local_fs_conf() | _python_daemon_conf() | {
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
        # --- streaming state store: RocksDB keeps large per-key state
        #     off the JVM heap (SURVEY.md §7 step 6 hard part e) ---
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        # A snapshot commit zips and uploads the whole RocksDB instance:
        # 109-119 ms of each store's 155-163 ms commit on a 100-page
        # flagship-stream micro-batch (4 cores). Changelog commits upload
        # only the batch's changes and took 67-102 ms, on par with the
        # HDFS-backed provider's 61-84 ms; snapshots move to the
        # background maintenance thread.
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


def get_spark_cluster(
    n_executors: int,
    cores_per_executor: int,
    py_files: str,
    app_name: str = "watermark_detector_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Multi-executor session via Spark's local-cluster manager: each
    executor is a SEPARATE JVM with its own python worker pool — the
    faithful sandbox stand-in for an N-executor cluster (scaling runs
    compare n_executors=N vs 4N at fixed executor size). The engine
    package ships to executors as the ``py_files`` zip, same as
    spark-submit. The executor heap does not depend on ``n_executors``:
    half of RAM over as many such executors as the host's CPUs hold, at
    most 6g of the worker's 8 GB."""
    fits = max(1, (os.cpu_count() or 1) // cores_per_executor)
    heap_gib = max(1, min(6, int(_default_driver_memory()[:-1]) // fits))
    builder = SparkSession.builder.master(
        f"local-cluster[{n_executors},{cores_per_executor},8192]").appName(app_name)
    conf = engine_conf(cores_per_executor) | {"spark.executor.memory": f"{heap_gib}g"}
    # executors start their Python daemons in their own work dirs, and
    # py-files reach the workers only after the daemon has started
    conf.pop(_DAEMON_KEY, None)
    conf |= (extra_conf or {}) | {"spark.submit.pyFiles": py_files,
                                  "spark.ui.enabled": "false"}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
