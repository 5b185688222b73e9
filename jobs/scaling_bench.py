#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north rule: >=0.8 from N
to 4N executors). With no real cluster, the same job runs under Spark's
local-cluster manager — one JVM per executor (own heap and GC, unlike
local[k], which under-reports scaling by ~35%), the engine shipped via
py-files — at N=1 and 4N=4 executors, identical input and configs
otherwise, and eff = (throughput_4N / throughput_N) / 4.

Each level runs in its own child process (``run_level``), taskset-pinned
to its executor cores + 2 driver cores, at most the host: unpinned, the
small level's scan/Arrow/GC threads would free-ride on idle host cores.
Each executor gets (nproc - 2) // 4 cores, at least 1, so the 4N level
fits the host (4 x 1 on 4 CPUs, 4 x 4 + 2 on 18). The child times
flagship batch and streaming over a ``generate_pages_spark`` corpus,
stops the cluster and removes its executors' work dir.

Writes BENCH/BASELINE.md and BENCH/scaling_epochs.json.
Run: python jobs/scaling_bench.py
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
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import busy_fraction, cpu_jiffies  # noqa: E402

# sized in the parent only: a pinned child's affinity is its pin
HOST_CPUS = sorted(os.sched_getaffinity(0))
DRIVER_CORES = 2
EXEC_CORES = max(1, (len(HOST_CPUS) - DRIVER_CORES) // 4)
# Executor counts. 4 first: it generates the corpus, and any OS
# page-cache carryover then benefits the SMALLER level — biasing
# measured efficiency DOWN (conservative).
LEVELS = [4, 1]
STAGE_ROOT = os.path.join(REPO, ".bench", "scaling")

# Corpus sized so COMPUTE dominates the ~1-2 s of fixed per-query
# streaming machinery even at the 4-executor level: a production-size
# signature inventory (the detector's scan is flat in signature count)
# and 600-1200-word pages.
SCALING_DOCS = int(os.environ.get("WMD_SCALING_DOCS", "600000"))
SCALING_SIGS = int(os.environ.get("WMD_SCALING_SIGS", "2000"))
STREAM_FILES = 64
# identical plan shape at every level: scan splits well past the core
# count, and the same number of shuffle (state-store) partitions
PINS = {"spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.shuffle.partitions": "8"}

# Load gate: an epoch is rejected when the host CPUs OUTSIDE a level's
# pin (external load, by construction) were busier than the bound during
# it. A pin over every host CPU leaves that level's reading blind (NaN);
# the epoch is gated on its other levels, and counts unchecked only when
# every level is blind. The report takes the MEDIAN of accepted epochs.
EPOCHS = int(os.environ.get("WMD_SCALING_EPOCHS", "5"))
MAX_ATTEMPTS = EPOCHS + 3
OFFPIN_BUSY_REJECT = 0.10

METRICS = [
    ("docs_per_sec_batch", "flagship batch"),
    ("docs_per_sec_stream", "flagship streaming e2e (incl. query start/teardown)"),
    ("docs_per_sec_stream_sustained",
     "flagship streaming SUSTAINED (data micro-batches; the BASELINE.json metric)"),
]


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run_level(n_executors: int, cores: int) -> None:
    """One level, in its pinned child process: print one JSON line of
    flagship batch (min of 3 after a warm-up pass) and streaming (min of
    3 after a warm-up run) docs/s on ``n_executors`` x ``cores``."""
    from pyspark.find_spark_home import _find_spark_home

    from jobs.build_pyfiles import build
    from jobs.soak import stage_time_ordered_stream
    from watermark_detector_spark.fixtures import FixtureConfig
    from watermark_detector_spark.plans.flagship import flagship_batch, kept_detections_fused
    from watermark_detector_spark.session import get_spark_cluster
    from watermark_detector_spark.sources.pages import read_pages_batch
    from watermark_detector_spark.streaming.pipeline import MetricsListener, run_flagship_stream

    spark = get_spark_cluster(n_executors, cores, py_files=build(),
                              app_name=f"wmd-scaling-e{n_executors}", extra_conf=PINS)
    app_id = spark.sparkContext.applicationId
    cfg = FixtureConfig(n_docs=SCALING_DOCS, n_domains=500, span_s=7200,
                        n_sigs=SCALING_SIGS, min_words=600, max_words=1200)
    os.makedirs(STAGE_ROOT, exist_ok=True)
    run = tempfile.mkdtemp(prefix="run-", dir=STAGE_ROOT)
    try:
        # the stream's files are the batch corpus too (Spark skips _STAGED)
        stream_dir = stage_time_ordered_stream(spark, cfg, STREAM_FILES, STAGE_ROOT)
        pages = read_pages_batch(spark, stream_dir)
        kept_detections_fused(pages, cfg.signatures).count()  # warm-up pass
        batch_s = min(_seconds(lambda: flagship_batch(pages, cfg.signatures).write.mode(
            "overwrite").parquet(os.path.join(run, "out"))) for _ in range(3))
        e2e_s, sustained = [], []
        for i in range(4):
            ml = MetricsListener()
            spark.streams.addListener(ml)
            e2e_s.append(_seconds(lambda: run_flagship_stream(
                spark, stream_dir, cfg.signatures, os.path.join(run, f"sink{i}"),
                os.path.join(run, f"ckpt{i}"), max_files_per_trigger=STREAM_FILES)))
            time.sleep(1)  # let the last progress event land
            spark.streams.removeListener(ml)
            data = [p for p in ml.progress if p["numInputRows"]]
            add_s = sum(p["durationMs"].get("addBatch", 0) for p in data) / 1000
            sustained.append(sum(p["numInputRows"] for p in data) / add_s if add_s else 0.0)
    finally:
        spark.stop()
        shutil.rmtree(run, ignore_errors=True)
        shutil.rmtree(os.path.join(_find_spark_home(), "work", app_id), ignore_errors=True)
    print(json.dumps({
        "executors": n_executors, "cores_per_executor": cores, "n_docs": SCALING_DOCS,
        "docs_per_sec_batch": round(SCALING_DOCS / batch_s, 1),
        # the first streaming run is the warm-up
        "docs_per_sec_stream": round(SCALING_DOCS / min(e2e_s[1:]), 1),
        "docs_per_sec_stream_sustained": round(max(sustained[1:]), 1),
    }))


def measure_level(n_executors: int) -> dict:
    """Run one level in a child pinned to its core budget; add the
    loadavg before it and the off-pin busy fraction during it."""
    n_pin = min(len(HOST_CPUS), n_executors * EXEC_CORES + DRIVER_CORES)
    load_before = os.getloadavg()[0]
    stat_before = cpu_jiffies()
    out = subprocess.run(
        ["taskset", "-c", ",".join(map(str, HOST_CPUS[:n_pin])), sys.executable, "-c",
         f"from jobs.scaling_bench import run_level; run_level({n_executors}, {EXEC_CORES})"],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    stat_after = cpu_jiffies()
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode or not lines:
        raise RuntimeError(f"level {n_executors} failed (exit {out.returncode}):\n"
                           + out.stderr[-3000:])
    res = json.loads(lines[-1])
    assert res["cores_per_executor"] == EXEC_CORES, res
    res["pinned_cpus"] = n_pin
    res["loadavg_before"] = round(load_before, 2)
    res["offpin_busy"] = round(busy_fraction(
        stat_before, stat_after, [f"cpu{c}" for c in HOST_CPUS[n_pin:]]), 4)
    return res


def _row(e: dict, lo: int, hi: int) -> str:
    r, eff = e["results"], e["effs"]
    return (f"| {e['attempt']} | {'accepted' if e['accepted'] else 'REJECTED'} "
            f"| {e['worst_offpin']:.3f} [{', '.join(map(str, e['gated_levels'])) or 'none'}] "
            f"| {r[lo]['loadavg_before']:.1f} / {r[hi]['loadavg_before']:.1f} "
            + "".join(f"| {eff.get(k, float('nan')):.2f} " for k, _ in METRICS)
            + f"| {r[lo]['docs_per_sec_batch']:,.0f} -> {r[hi]['docs_per_sec_batch']:,.0f} "
            f"| {r[lo]['docs_per_sec_stream_sustained']:,.0f} -> "
            f"{r[hi]['docs_per_sec_stream_sustained']:,.0f} |")


def main() -> None:
    lo, hi = min(LEVELS), max(LEVELS)
    epochs: list[dict] = []
    while sum(e["accepted"] for e in epochs) < EPOCHS and len(epochs) < MAX_ATTEMPTS:
        attempt = len(epochs) + 1
        results = {}
        for n in LEVELS:
            results[n] = measure_level(n)
            print(f"epoch {attempt} local-cluster[{n},{EXEC_CORES}]: "
                  f"{json.dumps(results[n])}", flush=True)
        gated = [n for n in LEVELS if results[n]["offpin_busy"] == results[n]["offpin_busy"]]
        worst = max((results[n]["offpin_busy"] for n in gated), default=float("nan"))
        ok = not (worst > OFFPIN_BUSY_REJECT)  # NaN: every level blind, accepted
        effs = {k: results[hi][k] / results[lo][k] / (hi / lo)
                for k, _ in METRICS if results[lo][k]}
        epochs.append({"attempt": attempt, "accepted": ok, "results": results,
                       "gated_levels": gated, "worst_offpin": worst, "effs": effs})
        print(f"epoch {attempt}: offpin_busy={worst:.3f} over levels {gated} "
              f"(gate {OFFPIN_BUSY_REJECT}) -> "
              f"{'ACCEPT' if ok else 'REJECT'} | effs="
              f"{ {k: round(v, 2) for k, v in effs.items()} }", flush=True)
    accepted = [e for e in epochs if e["accepted"]]
    # host never quiet: report over the rejected epochs, labeled as such
    reported = accepted or epochs
    med, rng = {}, {}
    for key, _ in METRICS:
        vals = sorted(e["effs"][key] for e in reported if key in e["effs"])
        if vals:
            med[key], rng[key] = statistics.median(vals), (vals[0], vals[-1])

    label = "load-gated epochs" if accepted else "epochs (ALL gate-REJECTED — load-polluted)"
    md = [
        "# BENCH — measured throughput & scaling efficiency",
        "",
        f"Generated {datetime.now(timezone.utc).strftime('%Y-%m-%d %H:%MZ')} by "
        "`jobs/scaling_bench.py`: Spark local-cluster mode, each executor a separate "
        f"JVM with the engine shipped via py-files; N={lo} vs 4N={hi} executors x "
        f"{EXEC_CORES} cores on a {len(HOST_CPUS)}-CPU host, each level taskset-pinned "
        f"to its executor cores + {DRIVER_CORES} driver cores (at most the host). "
        f"Epochs whose off-pin busy exceeds {OFFPIN_BUSY_REJECT:.0%} are rejected; a "
        "level pinned over every CPU reads none and is not gated. "
        f"{len(accepted)} accepted, {len(epochs) - len(accepted)} rejected.",
        "",
        f"Corpus: {SCALING_DOCS:,} deterministic pages (600-1200 words, 500 Zipf-skewed "
        f"domains) in {STREAM_FILES} event-time-ordered files; pipeline = extract -> "
        f"detect({SCALING_SIGS} signatures) -> filter(score>=0.5) -> per-domain 1-min "
        "tumbling window agg (-> exactly-once sink when streaming). Batch = min of 3 "
        "runs after a warm-up pass; streaming = min of 3 after one untimed warm run.",
        "",
        f"## Scaling efficiency — median [min-max] over {len(reported)} {label}",
        "",
        "| pipeline | eff median [range] | target |",
        "|---|---|---|",
        *(f"| {lbl} | {med[k]:.2f} [{rng[k][0]:.2f} - {rng[k][1]:.2f}] | >=0.8 |"
          for k, lbl in METRICS if k in med),
        "",
        "## Per-epoch detail",
        "",
        f"| epoch | gate | off-pin busy (gate {OFFPIN_BUSY_REJECT:.0%}) [gated levels] "
        "| loadavg before N / 4N | batch eff | e2e eff | sustained eff "
        "| docs/s batch N->4N | docs/s sustained N->4N |",
        "|---|---|---|---|---|---|---|---|---|",
        *(_row(e, lo, hi) for e in epochs),
        "",
        "Raw JSON (1-executor line then 4-executor line per epoch):",
        "```json",
        *(json.dumps(e["results"][n]) for e in reported for n in (lo, hi)),
        "```",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as fh:
        fh.write("\n".join(md))
    with open(os.path.join(REPO, "BENCH", "scaling_epochs.json"), "w") as fh:
        json.dump({"accepted": accepted, "rejected": [e for e in epochs if not e["accepted"]],
                   "gate_passed": bool(accepted), "gate_offpin": OFFPIN_BUSY_REJECT,
                   "median_eff": med}, fh, indent=1, default=str)
    print(f"median efficiencies over {len(reported)} {label}: "
          f"{ {k: round(v, 3) for k, v in med.items()} }")


if __name__ == "__main__":
    main()
