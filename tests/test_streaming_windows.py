"""Built-in sliding windows and salted window aggregation under a REAL
stream (watermark + availableNow), cross-checked against the batch plan
on the same rows (streaming session windows: driver queries q43/q50).

The streaming run drops late rows and never emits unfinalized windows;
the batch oracle reproduces both effects by (a) excluding late rows via
the splice log and (b) restricting to windows closed by the final
watermark (flush-sentinel event time - delay)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from watermark_detector_spark.fixtures import BASE_TS
from watermark_detector_spark.plans.flagship import kept_detections_fused, window_agg
from watermark_detector_spark.sources.pages import read_pages_stream


def _stream_to_memory(spark, df, name, tmp):
    q = (
        df.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", str(tmp / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).toPandas()


@pytest.fixture(scope="module")
def batch_kept(spark, fixture_cfg, fixture_paths):
    """Non-late detection rows (the splice log flags late docs)."""
    pages = spark.read.parquet(fixture_paths["pages"])
    late_urls = (
        spark.read.parquet(fixture_paths["splices"])
        .where("is_late").select("url").distinct()
    )
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    return kept.join(late_urls, "url", "left_anti")


def test_streaming_sliding_window_matches_batch(spark, fixture_cfg,
                                                fixture_paths, tmp_path,
                                                batch_kept):
    stream_kept = kept_detections_fused(
        read_pages_stream(spark, fixture_paths["pages_stream"]),
        fixture_cfg.signatures,
    )
    got = _stream_to_memory(
        spark,
        window_agg(stream_kept, "5 minutes", "1 minute", watermark="10 minutes"),
        "slide_out", tmp_path,
    )
    # batch oracle on non-late rows, restricted to finalized windows
    flush_ts = BASE_TS + pd.Timedelta(
        seconds=fixture_cfg.span_s + 3 * fixture_cfg.watermark_delay_s
    )
    final_wm = flush_ts - pd.Timedelta(seconds=fixture_cfg.watermark_delay_s)
    want = window_agg(batch_kept, "5 minutes", "1 minute").toPandas()
    want = want[pd.to_datetime(want["window_end"]) <= final_wm]
    got = got[~got["domain"].isna()].sort_values(
        ["domain", "window_start"]).reset_index(drop=True)
    want = want.sort_values(["domain", "window_start"]).reset_index(drop=True)
    # the flush sentinel itself lands past final_wm -> excluded both sides
    assert got.shape == want.shape
    for c in ("domain", "window_start", "window_end", "n_detections",
              "n_watermark", "n_text"):
        assert (got[c].values == want[c].values).all(), c


def test_salted_streaming_window_agg_matches_unsalted(
    spark, fixture_cfg, fixture_paths, tmp_path
):
    """salted_windowed_stream_agg == the plain unsalted streaming agg,
    window-for-window, on a stream where 3/4 of the domains collapse
    onto ONE hot key — the salt fans state out, results are identical
    (counts exact; sums to rounding tolerance, the two plans add in
    different orders)."""
    import numpy as np

    from watermark_detector_spark.operators.skew import (
        salted_windowed_stream_agg,
    )

    def ev():
        kept = kept_detections_fused(
            read_pages_stream(spark, fixture_paths["pages_stream"]),
            fixture_cfg.signatures,
        )
        return kept.select(
            F.col("warc_ts").alias("ts"),
            F.when(F.pmod(F.xxhash64("domain"), F.lit(4)) < 3,
                   F.lit("hot"))
            .otherwise(F.col("domain")).alias("k"),
            F.col("score").alias("value"),
            F.col("url").alias("event_id"),
        )

    salted = salted_windowed_stream_agg(ev(), key_col="k", k=8).select(
        F.col("win.start").alias("ws"), "k", "n_events", "sum_value")
    got = _stream_to_memory(spark, salted, "salted_out", tmp_path)
    unsalted = (
        ev().withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("win"), "k")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("ws"), "k", "n_events",
                "sum_value")
    )
    want = _stream_to_memory(spark, unsalted, "unsalted_out", tmp_path)
    got = got.sort_values(["k", "ws"]).reset_index(drop=True)
    want = want.sort_values(["k", "ws"]).reset_index(drop=True)
    assert got.shape == want.shape and len(got) > 0
    assert (got["ws"].values == want["ws"].values).all()
    assert (got["k"].values == want["k"].values).all()
    assert (got["n_events"].values == want["n_events"].values).all()
    assert np.allclose(got["sum_value"], want["sum_value"], atol=2e-4)
    # the hot key really is hot (the scenario the salt exists for)
    assert (got["k"] == "hot").sum() > 0
