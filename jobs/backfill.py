#!/usr/bin/env python
"""Multi-source batch backfill sweep.

The engine analog of the reference's three batch inference loops — it
sweeps test/, ica_rejected/ and score_passport/ dirs through the same
predictor (train_watermarks.py:317-365). Here: each source directory
runs the SAME fused extract→detect→filter→window-agg plan
(plans/flagship.flagship_batch) and commits through the exactly-once
manifest sink with batch_id = source index, so

- a re-run skips every already-committed source (manifest no-op),
- a crash mid-sweep resumes at the first uncommitted source,
- the sink manifest is the sweep's completion record (one entry per
  source, row counts included).

At 100 TB each source is an independent job stage; sources can also be
dispatched concurrently since their batch_ids never collide.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from watermark_detector_spark.functions.core import Signature
from watermark_detector_spark.plans.flagship import flagship_batch
from watermark_detector_spark.sources.pages import read_pages_batch
from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink


def backfill(
    spark: SparkSession,
    sources: list[str],
    signatures: list[Signature],
    sink_root: str,
    window: str = "1 minute",
) -> ExactlyOnceParquetSink:
    """Run the flagship batch plan over every source dir; exactly-once
    per source via the manifest sink. Returns the sink for inspection.

    Batch identity is derived from the SOURCE PATH (stable 31-bit
    hash), never from list position: adding or removing sources between
    runs must neither skip a new source nor double-commit an old one —
    positional ids would do both the moment the sorted order shifts."""
    from watermark_detector_spark.functions.core import stable_hash

    sink = ExactlyOnceParquetSink(sink_root)
    done = set(sink.committed_batches())
    batch_ids = {src: stable_hash("backfill", src) & 0x7FFFFFFF
                 for src in sources}
    if len(set(batch_ids.values())) != len(batch_ids):
        raise ValueError(f"source batch-id collision across {sorted(sources)}")
    for src in sorted(sources):
        bid = batch_ids[src]
        if bid in done:
            continue
        pages = read_pages_batch(spark, src)
        agg = flagship_batch(pages, signatures, window=window).withColumn(
            "source_path", F.lit(src)
        )
        sink.write_batch(agg, bid)
    return sink


def main() -> None:  # pragma: no cover - CLI wrapper
    import argparse

    from watermark_detector_spark.functions.core import signatures_from_df
    from watermark_detector_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sources", nargs="+", required=True,
                    help="pages parquet dirs to sweep")
    ap.add_argument("--signatures", required=True)
    ap.add_argument("--sink", required=True)
    args = ap.parse_args()

    spark = get_spark(app_name="wmd-backfill")
    sigs = signatures_from_df(spark.read.parquet(args.signatures))
    sink = backfill(spark, args.sources, sigs, args.sink)
    for entry in sink.manifest():
        print(entry)


if __name__ == "__main__":
    main()
