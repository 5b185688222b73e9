"""Host sizing, the engine session, and process-tree memory sampling.

The session is sized from the host, from outside the engine package:
cores from the CPU affinity mask (what ``nproc`` prints) and a driver
heap of about half of MemTotal, capped at 48g, both passed explicitly to
``session.get_spark``. Everything else is the engine's own
``engine_conf`` profile, so a change to the engine defaults is measured.
All scratch files (Spark local dir, JVM and Python temp files, event
log) live under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                break
    return f"{max(1, min(48, kib // (2 * 1024 * 1024)))}g"


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    """Only paths and the event log: no engine tuning overrides."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def prepare_env(root: str, bench_dir: str, work: str) -> None:
    """Python workers start in another cwd: put the repo (engine) and the
    benchmark (its mapInPandas helpers) on their import path."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root, bench_dir] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def effective_conf(spark, keys) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in sorted(keys)}


def set_up(n: int, start, warm) -> tuple[object, dict]:
    """Start the session ``n`` times (stopping all but the last), each
    followed by the warm pass; return the live session and the timings.
    The first start also launches the JVM."""
    starts, warms, spark = [], [], None
    for i in range(n):
        t0 = time.perf_counter()
        spark = start()
        t1 = time.perf_counter()
        warm(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        if i < n - 1:
            spark.stop()
    return spark, {
        "setup_s": statistics.median(s + w for s, w in zip(starts, warms)),
        "session.start_s": statistics.median(starts),
        "session.warm_s": statistics.median(warms),
        "session.jvm_start_s": starts[0],
    }


def shut_down(spark) -> None:
    """Stop the session, then the gateway JVM (which takes its Python
    workers with it), and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
