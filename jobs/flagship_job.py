#!/usr/bin/env python
"""Production flagship job — the spark-submit entrypoint.

  spark-submit --master <cluster> \\
      --py-files dist/watermark_detector_spark.zip \\
      jobs/flagship_job.py \\
      --pages /data/pages_stream --signatures /data/signatures.parquet \\
      --sink /data/out --checkpoint /data/ckpt [--iceberg db.pages]

On a cluster the master/executors come from spark-submit; in the
sandbox it falls back to local[$SPARK_GRAFT_CPUS]. The job is
restart-safe: rerunning with the same --checkpoint resumes from the
last committed micro-batch and the sink ignores replayed batches.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from watermark_detector_spark.functions.core import signatures_from_df
from watermark_detector_spark.session import engine_conf
from watermark_detector_spark.streaming.pipeline import (
    MetricsListener,
    run_flagship_stream,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages stream dir (or Iceberg table with --iceberg)")
    ap.add_argument("--signatures", required=True, help="signature dimension parquet")
    ap.add_argument("--sink", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--window", default="1 minute")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--continuous", action="store_true",
                    help="run until stopped instead of availableNow")
    ap.add_argument("--metrics", default=None, help="JSONL metrics path")
    args = ap.parse_args()

    builder = SparkSession.builder.appName("wmd-flagship")
    for k, v in engine_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.metrics:
        spark.streams.addListener(MetricsListener(args.metrics))

    sigs = signatures_from_df(spark.read.parquet(args.signatures))
    sink = run_flagship_stream(
        spark,
        args.pages,
        sigs,
        sink_root=args.sink,
        checkpoint_dir=args.checkpoint,
        window=args.window,
        watermark=args.watermark,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
    )
    print(f"committed batches: {sink.committed_batches()}")


if __name__ == "__main__":
    main()
