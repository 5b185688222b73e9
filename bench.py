#!/usr/bin/env python
"""Benchmark record of the engine. Prints ONE JSON line:
  {"metric": "flagship_batch_sec", "value": <median flagship pass, s>,
   "unit": "sec", "queries": {...per-query sec...}, "sf": ..., ...}

- Flagship: ``perfbench/run.py --workload flagship-batch|flagship-stream
  --seed 1`` in child processes. Their end-to-end metrics give
  ``flagship_batch`` (median pass, s), ``docs_per_sec_batch``,
  ``flagship_stream_e2e`` (median arrival-to-commit latency per file, s)
  and ``docs_per_sec_stream``. A failed output check exits non-zero.
- Leaves: each of ``BENCH_QUERIES`` at ``$SPARK_GRAFT_SF_DIR``, median
  of 3 runs into the noop sink, on a plain ``get_spark()``.
- Soak: ``SOAK_BATCHES`` one-file micro-batches of the flagship stream
  (``jobs/soak.run_phase``): per-commit p50/p95 and state rows.
- Load gate: before anything starts, wait (bounded) for a quiet host and
  stamp the record ``accepted`` or ``degraded``.

Usage:
  python bench.py                  # the record
  python bench.py plans <suffix>   # explain("formatted") of each leaf
                                   # -> plans/r08/<query>_<suffix>.txt
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from watermark_detector_spark.session import DEFAULT_CPUS as CPUS, get_spark

ROOT = os.path.dirname(os.path.abspath(__file__))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(ROOT, "plans", "r08")

# the driver's per-query perf record
BENCH_QUERIES = [
    "q02_groupby_agg", "q03_join_agg", "q09_time_window_agg",
    "q17_jaccard_pairs", "q18_minhash_sigs", "q19_simhash",
    "q20_cosine_pairs", "q21_ann_topk", "q44_lsh_ann_candidates",
    "q45_near_dup_pairs", "q59_dedup_clusters", "q70_quality_rules",
    "q72_funnel", "q78_gopher_gates", "q80_pii_scrub",
    "q82_sequence_match", "q97_range_join", "q99_lm_quality",
    "q100_pack_sequences", "q116_pagerank", "q117_hll_distinct",
]
REPEATS = 3
# pages in perfbench's flagship-batch corpus (perfbench/README.md)
N_DOCS = 40_000
SOAK_BATCHES = 96

# Pre-flight load gate: bench.py runs on every host core, so the only
# external-load signal is whole-host busy time sampled BEFORE any Spark
# starts (nothing of ours runs yet, so host busy is other tenants).
# Wait for a quiet window, bounded; past the budget the run proceeds
# stamped load_gate="degraded".
LOAD_BUSY_MAX = 0.15
LOAD_WAIT_S = 300


def cpu_jiffies() -> dict[str, tuple[int, int]]:
    """(busy, total) jiffies of every ``cpu*`` line of /proc/stat:
    ``"cpu"`` is the whole host, ``"cpu0"``, ``"cpu1"``, ... each CPU."""
    out = {}
    with open("/proc/stat") as fh:
        for ln in fh:
            if not ln.startswith("cpu"):
                break
            name, *vals = ln.split()
            vals = [int(v) for v in vals]
            idle = vals[3] + vals[4]  # idle + iowait
            out[name] = (sum(vals) - idle, sum(vals))
    return out


def busy_fraction(before: dict, after: dict, cpus) -> float:
    """Busy share of the named ``cpu*`` lines between two
    ``cpu_jiffies()`` samples; NaN when none of them is in both."""
    names = [c for c in cpus if c in before and c in after]
    busy = sum(after[c][0] - before[c][0] for c in names)
    total = sum(after[c][1] - before[c][1] for c in names)
    return busy / total if total > 0 else float("nan")


def _host_busy() -> float:
    before = cpu_jiffies()
    time.sleep(1.0)
    return busy_fraction(before, cpu_jiffies(), ["cpu"])


def preflight_load_gate() -> dict:
    """Wait (bounded) for a quiet host; record the decision."""
    deadline = time.time() + LOAD_WAIT_S
    attempts = 0
    busy = _host_busy()
    while busy > LOAD_BUSY_MAX and time.time() < deadline:
        attempts += 1
        time.sleep(min(15.0, max(1.0, deadline - time.time())))
        busy = _host_busy()
    return {
        "preflight_busy": round(busy, 4),
        "preflight_waits": attempts,
        "load_gate": "accepted" if busy <= LOAD_BUSY_MAX else "degraded",
    }


def perfbench(workload: str) -> dict[str, float]:
    """End-to-end metric values of one perfbench run; exits non-zero
    when the run fails or its output check does."""
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1"],
        capture_output=True, text=True, cwd=ROOT, timeout=1800,
    )
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    out = json.loads(lines[-1]) if lines else {}
    if res.returncode or not out.get("correct"):
        sys.stderr.write(res.stdout[-3000:] + res.stderr[-3000:])
        sys.exit(f"bench: perfbench {workload} failed (exit {res.returncode}, "
                 f"correct={out.get('correct')})")
    return {k: m["value"] for k, m in out["metrics"].items()}


def time_leaves(spark, q) -> dict[str, float]:
    """Median of ``REPEATS`` noop-sink runs of each leaf, in seconds."""
    out = {}
    for name in BENCH_QUERIES:
        samples = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            q[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 3)
    return out


def soak_sample(spark, root: str) -> dict:
    from jobs.soak import run_phase, stage_time_ordered_stream
    from watermark_detector_spark.fixtures import FixtureConfig
    from watermark_detector_spark.plans.flagship import flagship_stream
    from watermark_detector_spark.sources.pages import read_pages_stream

    cfg = FixtureConfig(n_docs=SOAK_BATCHES * 150, n_domains=200,
                        span_s=SOAK_BATCHES * 60, n_sigs=100)
    sdir = stage_time_ordered_stream(spark, cfg, SOAK_BATCHES, root)
    res = run_phase(
        spark, "flagship",
        lambda: flagship_stream(
            read_pages_stream(spark, sdir, max_files_per_trigger=1), cfg.signatures),
        os.path.join(root, "soak_ckpt"), "append",
    )
    return {f"soak_{k}": v for k, v in res.items()}


def main() -> None:
    gate = preflight_load_gate()
    loadavg_start = os.getloadavg()
    batch = perfbench("flagship-batch")
    stream = perfbench("flagship-stream")
    timings = {"flagship_batch": round(batch["lat_p50_ms"] / 1000, 3),
               "flagship_stream_e2e": round(stream["lat_p50_ms"] / 1000, 3)}

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="wmd-bench")
    root = tempfile.mkdtemp(prefix="wmd-bench-")
    try:
        timings |= time_leaves(spark, entrymod.queries())
        soak = soak_sample(spark, root)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "metric": "flagship_batch_sec",
        "value": timings["flagship_batch"],
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "n_docs": N_DOCS,
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        **gate,
        "docs_per_sec_batch": round(batch["rows_per_s"], 1),
        "docs_per_sec_stream": round(stream["rows_per_s"], 1),
        **soak,
    }))


def dump_plans(suffix: str) -> None:
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="wmd-bench-plans")
    os.makedirs(PLANS_DIR, exist_ok=True)
    q = entrymod.queries()
    for name in BENCH_QUERIES:
        df = q[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(PLANS_DIR, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange)")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["plans"]:
        # no default: plans/r08's before/after files were dumped under
        # other confs, and a dump under engine_conf must not replace them
        if len(sys.argv) != 3:
            sys.exit("usage: python bench.py plans <suffix>")
        dump_plans(sys.argv[2])
    else:
        main()
