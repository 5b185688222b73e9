#!/usr/bin/env python3
"""Benchmark of the watermark-detector engine on a local Spark session.

    python3 perfbench/run.py --workload flagship-batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # all workloads, tiny inputs
    python3 perfbench/run.py --workload neardup --wrong-reference   # check must fail

Run from the repository root. Prints one line per metric (name, value,
unit), the output-check result, and as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics
(spans, batch prefixes, query progress, event log) and the tracing
overhead. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
SETUPS = 3

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "lat_p50_ms": "ms"}

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.jvm_start_s": "s",
    "harness.peak_rss_mb": "MB",
    "sources.pages.scan_s": "s", "sources.pages.bytes_read": "bytes",
    "sources.pages.tasks": "count",
    "plans.flagship.transit_s": "s", "functions.extract.s": "s",
    "functions.extract.us_per_doc_1t": "us", "functions.core.detect_s": "s",
    "functions.core.detect_us_per_doc_1t": "us", "functions.core.detection_rows": "count",
    "plans.flagship.keep_ratio": "ratio", "plans.flagship.filter_s": "s",
    "plans.flagship.agg_s": "s", "plans.flagship.write_s": "s",
    "python.tasks": "count", "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.total_ms": "ms", "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "streaming.pipeline.commits": "count", "streaming.pipeline.latest_offset_ms": "ms",
    "streaming.pipeline.query_planning_ms": "ms", "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.wal_commit_ms": "ms", "streaming.pipeline.commit_offsets_ms": "ms",
    "state_store.rows_total": "count", "state_store.mem_bytes": "bytes",
    "state_store.commit_ms": "ms", "state_store.rows_dropped_late": "count",
    "streaming.state.matches_out": "count",
    "streaming.sink.write_ms": "ms", "streaming.sink.rows": "count",
    "streaming.sink.files": "count",
    "operators.dedup.minhash_s": "s", "operators.dedup.lsh_s": "s",
    "operators.dedup.candidates": "count", "operators.dedup.confirm_s": "s",
    "operators.dedup.pairs": "count", "operators.dedup.precision": "ratio",
    "operators.dedup.clusters_s": "s", "operators.dedup.edges": "count",
    "spark.tasks": "count", "spark.cpu_s": "s", "spark.run_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "span.sources.pages.self_ms": "ms", "span.plans.flagship.self_ms": "ms",
    "span.streaming.state.self_ms": "ms", "span.streaming.sink.self_ms": "ms",
    "span.operators.dedup.self_ms": "ms", "span.harness.self_ms": "ms",
    "harness.build_jobs": "count", "harness.stage_s": "s",
    "harness.gen_late_ms_max": "ms", "harness.backlog_files_end": "count",
    "harness.lat_samples": "count", "harness.lat_tail_pct": "%", "harness.lat_tail_ms": "ms",
    "trace.overhead_pct": "%",
}

SMOKE_SIZES = {
    "flagship-batch": {"base_docs": 150, "replicas": 2},
    "flagship-stream": {"base_docs": 600},
    "cep-stream": {"n_events": 6000, "n_files": 6},
    "neardup": {"n_docs": 600},
}


def tail(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), and its value; (0, 0.0) when there are fewer than 20."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return p, xs[k - 1]
    return 0, 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="flagship-batch")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs, untimed")
    ap.add_argument("--wrong-reference", action="store_true",
                    help="perturb the reference so the output check must fail")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        import pyspark  # noqa: F401
        from watermark_detector_spark import session  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    names = list(workloads.WORKLOADS) if args.smoke else [args.workload]
    for n in names:
        if n not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {n!r}; one of {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.smoke:
            return smoke(args, work)
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def start_session(work: str, event_log: bool):
    import host
    from watermark_detector_spark.session import get_spark

    conf = host.session_conf(work, event_log)
    return lambda: get_spark(cpus=host.cores(), driver_memory=host.driver_memory(),
                             extra_conf=conf)


def warm_pass(warm: dict, seed: int):
    import stage
    from watermark_detector_spark.plans.flagship import flagship_batch
    from watermark_detector_spark.sources.pages import read_pages_batch

    sigs = stage.fixture_config(seed).signatures
    return lambda spark: flagship_batch(read_pages_batch(spark, warm["pages"]), sigs).collect()


def bench(args, work: str) -> int:
    import host
    import stage
    import tracing
    import workloads

    W = workloads.WORKLOADS[args.workload]
    host.prepare_env(ROOT, BENCH_DIR, work)
    t0 = time.perf_counter()
    warm = stage.stage_warm(WORK_ROOT, args.seed)
    staged = W.stage(WORK_ROOT, args.seed, {})
    stage_s = time.perf_counter() - t0
    traced = bool(args.trace)
    spark = None
    record: dict = {"workload": W.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "staged": staged}
    with host.RssSampler() as rss:
        try:
            spark, setup = host.set_up(SETUPS, start_session(work, traced),
                                       warm_pass(warm, args.seed))
            from watermark_detector_spark.session import engine_conf

            record["conf"] = host.effective_conf(
                spark, set(engine_conf()) | set(host.session_conf(work, traced))
                | {"spark.master", "spark.driver.memory"})
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
            ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed,
                                staged=staged, listener=listener,
                                wrong_reference=args.wrong_reference)
            if not traced:
                outs = [W.measure(ctx, args.seconds)]
            else:
                # untraced, traced, traced, untraced quarters: warm-up drift
                # over the run falls equally on both sides of the overhead
                quarter = args.seconds / 4
                outs = [W.measure(ctx, quarter)]
                tracer = tracing.Tracer()
                ctx.tracer = tracer
                tracer.install()
                t_from = time.time()
                try:
                    with tracer.span(f"{W.name}.measure"):
                        outs += [W.measure(ctx, quarter), W.measure(ctx, quarter)]
                finally:
                    tracer.remove()
                    ctx.tracer = None
                t_to = time.time()
                outs.append(W.measure(ctx, quarter))
                extra = W.traced(ctx) if hasattr(W, "traced") else {}
        finally:
            if spark is not None:
                host.shut_down(spark)
    attempted = sum(o.attempted for o in outs)
    failed = sum(o.failed for o in outs)
    notes = [n for o in outs for n in o.notes]
    if traced:
        metrics = per_layer(setup, outs, extra, tracer,
                            tracing.reduce_event_log(os.path.join(work, "eventlog"), t_from, t_to))
        metrics["harness.stage_s"] = stage_s
        metrics["harness.peak_rss_mb"] = rss.peak_mb
        record["spans"] = tracer.spans
        units = PER_LAYER
    else:
        o = outs[0]
        metrics = {
            "setup_s": setup["setup_s"],
            "rows_per_s": o.rows / o.busy_s if o.busy_s else 0.0,
            "lat_p50_ms": statistics.median(o.lat_ms) if o.lat_ms else 0.0,
        }
        units = END_TO_END
        p, v = tail(o.lat_ms)
        record["peak_rss_mb"] = rss.peak_mb
        record["latency"] = {"samples": len(o.lat_ms), "tail_pct": p, "tail_ms": v,
                             "all_ms": o.lat_ms}
    record["metrics"] = metrics
    record["notes"] = notes
    record["detail"] = [o.detail for o in outs]
    write_record(record)
    for name, unit in units.items():
        print(f"{W.name:16s} {name:40s} {metrics[name]:14.4f} {unit}")
    status = "ok" if failed == 0 else "FAILED"
    print(f"{W.name:16s} output check: {status} ({attempted} operations, {failed} wrong)")
    for n in notes[:20]:
        print(f"{W.name:16s}   {n}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def per_layer(setup: dict, outs: list, extra: dict, tracer, events: dict) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer the workload does not use."""
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in setup.items() if k in PER_LAYER})
    for o in outs:
        m.update({k: float(v) for k, v in o.layers.items() if k in PER_LAYER})
    m.update({k: float(v) for k, v in extra.items() if k in PER_LAYER})
    m.update({k: float(v) for k, v in events.items() if k in PER_LAYER})
    for layer, s in tracer.self_times().items():
        key = f"span.{layer}.self_ms"
        if key in m:
            m[key] = s * 1000
    writes = tracer.durations("streaming.sink.ExactlyOnceParquetSink.write_batch")
    if writes:
        m["streaming.sink.write_ms"] = statistics.median(writes) * 1000
    lat = [x for o in outs for x in o.lat_ms]
    p, v = tail(lat)
    m.update({"harness.lat_samples": float(len(lat)), "harness.lat_tail_pct": float(p),
              "harness.lat_tail_ms": v})
    untraced = outs[0].lat_ms + outs[3].lat_ms
    traced = outs[1].lat_ms + outs[2].lat_ms
    if untraced and traced:
        m["trace.overhead_pct"] = (statistics.median(traced) / statistics.median(untraced) - 1) * 100
    return m


def write_record(record: dict) -> None:
    d = os.path.join(WORK_ROOT, "records")
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}-{int(time.time())}.json"
    with open(os.path.join(d, name), "w") as fh:
        json.dump(record, fh, default=str)


def smoke(args, work: str) -> int:
    """Every workload end to end on tiny inputs in one session: staging,
    a short measurement, the output check and the traced extras."""
    import host
    import stage
    import tracing
    import workloads

    host.prepare_env(ROOT, BENCH_DIR, work)
    warm = stage.stage_warm(WORK_ROOT, args.seed)
    spark = None
    attempted = failed = 0
    metrics = {}
    try:
        spark, _ = host.set_up(1, start_session(work, True), warm_pass(warm, args.seed))
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)
        for name, W in workloads.WORKLOADS.items():
            staged = W.stage(WORK_ROOT, args.seed, SMOKE_SIZES[name])
            ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed,
                                staged=staged, listener=listener,
                                wrong_reference=args.wrong_reference)
            o = W.measure(ctx, 1)
            if hasattr(W, "traced"):
                W.traced(ctx)
            attempted += o.attempted
            failed += o.failed
            rate = o.rows / o.busy_s if o.busy_s else 0.0
            metrics[f"{name}.rows_per_s"] = {"value": rate, "unit": "1/s"}
            status = "ok" if o.failed == 0 else "FAILED " + "; ".join(o.notes[:3])
            print(f"{name:16s} {o.attempted} operations, {o.failed} wrong: {status}")
    finally:
        if spark is not None:
            host.shut_down(spark)
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
