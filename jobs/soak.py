#!/usr/bin/env python
"""Streaming soak: a few-hundred-micro-batch run of the flagship stream
with the stateful operators active, recording PER-COMMIT latency and
state-store size. This is the measured evidence behind the 100 TB
posture claim that long-running streams hold state bounded by the
watermark horizon (domains x open windows), NOT by stream length — the
state-row curve must go flat once the watermark starts evicting.

Phases (same time-ordered staged stream, maxFilesPerTrigger=1 => one
micro-batch per file):
  A. flagship        windowed agg + watermark -> exactly-once sink
  B. track_best      applyInPandasWithState running-best per domain
  C. session_stats   applyInPandasWithState w/ EventTimeTimeout sessions

Prints ONE JSON line:
  {"phases": {name: {batches, p50_ms, p95_ms, state_rows_max,
                     state_rows_final, state_mb_max, flat: bool}}, ...}

Flatness criterion per phase: final state rows <= max over the first
half of the run (i.e. the second half added NO net state).

Usage: python jobs/soak.py [--batches 300] [--docs-per-batch 250]
                           [--cpus 8] [--span-min 600]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_ROOT = os.environ.get("WMD_BENCH_ROOT", os.path.join(REPO, ".bench"))


def stage_time_ordered_stream(spark, cfg, n_files: int, root: str) -> str:
    """Corpus -> n_files parquet files ordered by warc_ts (file k holds
    the k-th event-time range, mtime increasing with k) so the
    file-stream replay advances the watermark monotonically — the shape
    a real ingest (kafka/iceberg appends) has."""
    from watermark_detector_spark.fixtures import generate_pages_spark
    from watermark_detector_spark.sources.pages import read_pages_batch

    key = f"soak_{cfg.n_docs}_f{n_files}_s{cfg.n_sigs}_sp{cfg.span_s}"
    stream_dir = os.path.join(root, key)
    if os.path.exists(os.path.join(stream_dir, "_STAGED")):
        return stream_dir
    pages_path = os.path.join(root, key + "_pages")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages_spark(spark, cfg, pages_path, n_partitions=32)
    tmp = stream_dir + "_tmp"
    (
        read_pages_batch(spark, pages_path)
        .repartitionByRange(n_files, "warc_ts")
        .sortWithinPartitions("warc_ts")
        .write.mode("overwrite").parquet(tmp)
    )
    shutil.rmtree(stream_dir, ignore_errors=True)
    os.makedirs(stream_dir)
    parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        dst = os.path.join(stream_dir, f"batch_{i:05d}.parquet")
        shutil.copy2(os.path.join(tmp, f), dst)
        os.utime(dst, (1700000000 + i, 1700000000 + i))
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(stream_dir, "_STAGED"), "w").write(str(len(parts)))
    return stream_dir


def _pctl(xs: list[float], q: float) -> float:
    """Nearest-rank percentile: ceil(q·n)-th smallest (the int(q*n)
    upper-index variant overstates — p50 of [100,200] must be 100-ish,
    not the element above the median)."""
    import math

    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def run_phase(spark, name: str, stream_df_fn, ckpt: str, output_mode: str):
    """Run one availableNow pass with maxFilesPerTrigger=1, collecting
    per-commit latency + state size from StreamingQueryProgress."""
    from watermark_detector_spark.streaming.pipeline import MetricsListener

    ml = MetricsListener()
    spark.streams.addListener(ml)
    try:
        q = (
            stream_df_fn()
            .writeStream.outputMode(output_mode)
            .foreachBatch(lambda df, bid: df.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time as _t

        _t.sleep(1.5)  # let the last progress events land
    finally:
        spark.streams.removeListener(ml)
    data = [p for p in ml.progress if p["numInputRows"]]
    lat = [p["durationMs"].get("triggerExecution", 0) for p in data]
    rows = [p["stateRowsTotal"] for p in data]
    mem = [p["stateMemoryBytes"] for p in data]
    half = max(1, len(rows) // 2)
    # flat = the second half added no NET state beyond plateau noise
    # (15% tolerance: the plateau is domains-per-window dependent and
    # wobbles; what must NOT happen is growth proportional to batches)
    return {
        "batches": len(data),
        "p50_ms": _pctl(lat, 0.50),
        "p95_ms": _pctl(lat, 0.95),
        "state_rows_max": max(rows, default=0),
        "state_rows_final": rows[-1] if rows else 0,
        "state_mb_max": round(max(mem, default=0) / 1e6, 2),
        "flat": bool(rows and rows[-1] <= 1.15 * max(rows[:half])),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=300)
    ap.add_argument("--docs-per-batch", type=int, default=250)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--span-min", type=int, default=600,
                    help="event-time span of the corpus in minutes")
    ap.add_argument("--phases",
                    default="flagship,track_best,session_stats,"
                            "sequence_cep,kleene_cep,salted_hot_window")
    args = ap.parse_args()

    from watermark_detector_spark.fixtures import FixtureConfig
    from watermark_detector_spark.operators.skew import (
        salted_windowed_stream_agg,
    )
    from watermark_detector_spark.plans.flagship import (
        flagship_stream,
        kept_detections_fused,
    )

    def _salted_hot(ev):
        return salted_windowed_stream_agg(
            ev, time_col="ts", key_col="domain_key", value_col="value",
            window="5 minutes", delay="10 minutes", k=16,
            salt_src="event_id")
    from watermark_detector_spark.session import get_spark
    from watermark_detector_spark.sources.pages import read_pages_stream
    from watermark_detector_spark.streaming.state import (
        kleene_match_stream,
        sequence_match_stream,
        session_stats,
        track_best,
    )

    spark = get_spark(app_name="wmd-soak", cpus=args.cpus, extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    cfg = FixtureConfig(
        n_docs=args.batches * args.docs_per_batch, n_domains=200,
        span_s=args.span_min * 60, n_sigs=100,
    )
    stream_dir = stage_time_ordered_stream(spark, cfg, args.batches, BENCH_ROOT)
    scratch = os.path.join(BENCH_ROOT, "soak_run")
    shutil.rmtree(scratch, ignore_errors=True)

    def pages():
        return read_pages_stream(spark, stream_dir, max_files_per_trigger=1)

    def kept():
        return kept_detections_fused(pages(), cfg.signatures)

    def seq_events():
        # detections re-keyed as a CEP event stream: domain is the key,
        # category the step type — exercises the k-step sequence
        # matcher's pending-buffer + finalized-tail state under 300
        # watermark advances (tails must expire, buffers must drain)
        from pyspark.sql import functions as F

        k = kept()
        return k.select(
            F.xxhash64("domain").alias("user_id"),
            F.col("warc_ts").alias("ts"),
            F.col("category").alias("event_type"),
            F.xxhash64("url").alias("event_id"),
        )

    def hot_events():
        # 90% of domains collapse onto ONE hot key — the Zipf-head
        # shape the salted streaming agg exists for; unsalted this
        # would concentrate every hot window's state + update traffic
        # on one state-store partition
        from pyspark.sql import functions as F

        k = kept()
        # pmod, not %: xxhash64 is signed and Spark's % preserves the
        # dividend's sign, so `% 10 < 9` would classify ~95% hot
        return k.select(
            F.col("warc_ts").alias("ts"),
            F.when(F.pmod(F.xxhash64("domain"), F.lit(10)) < 9,
                   F.lit("hot"))
            .otherwise(F.col("domain")).alias("domain_key"),
            F.col("score").alias("value"),
            F.col("url").alias("event_id"),
        )

    phase_fns = {
        "flagship": (lambda: flagship_stream(pages(), cfg.signatures), "append"),
        "track_best": (lambda: track_best(kept()), "update"),
        "session_stats": (lambda: session_stats(kept()), "append"),
        "sequence_cep": (lambda: sequence_match_stream(
            seq_events(), ["text", "text", "watermark"], max_gap_s=600,
            watermark="10 minutes"), "append"),
        # Kleene B+ runs over the same event stream: 'text' runs are
        # LONG (most detections are text), the exact shape that would
        # blow up a buffer-retaining matcher — state must stay flat
        # because the automaton keeps eleven scalars per key, never
        # the run
        "kleene_cep": (lambda: kleene_match_stream(
            seq_events(), "watermark", "text", "watermark",
            max_gap_s=600, watermark="10 minutes"), "append"),
        # salted two-phase windowed agg on a hot-key stream: state is
        # (open windows) x (keys x salt + keys) — flat once the
        # watermark evicts, NEVER proportional to stream length, and
        # the hot key's per-commit work spreads over k=16 partitions
        "salted_hot_window": (lambda: _salted_hot(hot_events()), "append"),
    }
    out = {}
    for name in args.phases.split(","):
        fn, mode = phase_fns[name]
        out[name] = run_phase(spark, name, fn, os.path.join(scratch, f"ckpt_{name}"), mode)
    print(json.dumps({
        "metric": "soak", "batches": args.batches,
        "docs_per_batch": args.docs_per_batch, "cpus": args.cpus,
        "phases": out,
        "all_flat": all(p["flat"] for p in out.values()),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
