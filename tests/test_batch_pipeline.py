"""End-to-end batch tests: extract byte-identity, detect vs golden,
flagship window aggregation vs golden — all via Spark, all
partitioning-invariant."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from watermark_detector_spark.functions.domains import registrable_domain
from watermark_detector_spark.functions.extract import extract_text_udf
from watermark_detector_spark.plans.flagship import (
    detection_rows_fused,
    flagship_batch,
    kept_detections_fused,
)
from watermark_detector_spark.sources.pages import read_pages_batch


def _norm_windows(df: pd.DataFrame) -> pd.DataFrame:
    df = df[
        ["domain", "window_start", "window_end", "n_docs", "n_detections",
         "avg_score", "n_watermark", "n_text"]
    ].copy()
    for c in ("n_docs", "n_detections", "n_watermark", "n_text"):
        df[c] = df[c].astype("int64")
    for c in ("window_start", "window_end"):
        df[c] = pd.to_datetime(df[c])
    return df.sort_values(["domain", "window_start"]).reset_index(drop=True)


def test_extract_byte_identity(spark, fixture_paths):
    """input_hint invariant: extracted text bytes == pinned golden bytes,
    per url, joined by key (never by position — the reference's
    positional alignment, train_watermarks.py:38-48, is what we fix)."""
    pages = read_pages_batch(spark, fixture_paths["pages"])
    extracted = pages.select(
        "url", F.encode(extract_text_udf("html"), "UTF-8").alias("got_bytes")
    )
    golden = spark.read.parquet(fixture_paths["golden_extract"])
    cmp = extracted.join(golden, "url", "full_outer").select(
        "url",
        (F.col("got_bytes") == F.col("text_bytes")).alias("same"),
    )
    rows = cmp.collect()
    assert len(rows) == 2000
    assert all(r["same"] for r in rows)


def test_detections_match_golden(spark, fixture_cfg, fixture_paths):
    """Every detection (including below-threshold ones) matches the
    splice-log golden exactly: sig_id, category, begin, end, score."""
    pages = read_pages_batch(spark, fixture_paths["pages"])
    got = (
        detection_rows_fused(pages, fixture_cfg.signatures)
        .select("url", "sig_id", "category", "begin", "end", "score")
        .toPandas()
        .sort_values(["url", "begin", "sig_id"])
        .reset_index(drop=True)
    )
    want = (
        spark.read.parquet(fixture_paths["golden_detections"])
        .select("url", "sig_id", "category", "begin", "end", "score")
        .toPandas()
        .sort_values(["url", "begin", "sig_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got.astype({"sig_id": "int64", "begin": "int64", "end": "int64"}),
        want.astype({"sig_id": "int64", "begin": "int64", "end": "int64"}),
        check_exact=False,
        atol=1e-12,
    )


def test_threshold_filter_drops_below(spark, fixture_cfg, fixture_paths):
    pages = read_pages_batch(spark, fixture_paths["pages"])
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    n_kept = kept.count()
    golden = spark.read.parquet(fixture_paths["golden_detections"])
    n_golden_kept = golden.where(~F.col("below_threshold")).count()
    n_golden_all = golden.count()
    assert n_kept == n_golden_kept
    assert n_golden_kept < n_golden_all  # fixtures do exercise the filter


def test_flagship_batch_vs_golden(spark, fixture_cfg, fixture_paths):
    pages = read_pages_batch(spark, fixture_paths["pages"])
    res = _norm_windows(flagship_batch(pages, fixture_cfg.signatures).toPandas())
    gold = _norm_windows(pd.read_parquet(fixture_paths["golden_windows"]))
    assert res.shape == gold.shape
    for c in ["domain", "window_start", "window_end", "n_docs",
              "n_detections", "n_watermark", "n_text"]:
        assert (res[c] == gold[c]).all(), c
    assert np.allclose(res["avg_score"].astype(float),
                       gold["avg_score"].astype(float), atol=1e-9)


def test_partitioning_invariance(spark, fixture_cfg, fixture_paths):
    """Same result at 1 and 16 partitions — the property the reference
    lacks (its output depends on listing order + unseeded RNG)."""
    pages = read_pages_batch(spark, fixture_paths["pages"])
    a = flagship_batch(pages.repartition(1), fixture_cfg.signatures).toPandas()
    b = flagship_batch(pages.repartition(16), fixture_cfg.signatures).toPandas()
    a, b = _norm_windows(a), _norm_windows(b)
    pd.testing.assert_frame_equal(a, b, check_exact=False, atol=1e-9)


def test_registrable_domain(spark):
    df = spark.createDataFrame(
        [
            ("https://www.example.com/p/1", "example.com"),
            ("https://news.site001.co.uk/p/2", "site001.co.uk"),
            ("https://a.b.c.deep.example.org/x", "example.org"),
            ("https://example.com/", "example.com"),
            ("https://sub.ac.uk/x", "sub.ac.uk"),
        ],
        ["url", "want"],
    )
    got = df.select("want", registrable_domain(F.col("url")).alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], (r["want"], r["got"])


def test_plan_prunes_and_partial_aggregates(spark, fixture_cfg, fixture_paths):
    """Scale assertions on the physical plan (SURVEY.md §4):
    - scan column pruning: the parquet scan must NOT read the `text`
      column (flagship re-derives it from html; reading both would double
      the scan bytes at 100 TB);
    - partial aggregation: two HashAggregate stages around one Exchange
      (map-side combine before the shuffle)."""
    pages = read_pages_batch(spark, fixture_paths["pages"])
    plan = flagship_batch(pages, fixture_cfg.signatures)._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "text" not in read_schema[0]
    assert "html" in read_schema[0]
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_backfill_multi_source_exactly_once(spark, fixture_cfg, fixture_paths,
                                            tmp_path_factory):
    """jobs/backfill sweeps several pages dirs through the fused plan
    with one manifest entry per source; re-runs are no-ops, a
    partially-committed sweep resumes at the missing source only, and
    ADDING a source between runs processes only the new one (batch
    identity is path-derived, not positional)."""
    import os
    import sys
    sys.path.insert(0, "/root/repo")
    from jobs.backfill import backfill
    from watermark_detector_spark.fixtures import FixtureConfig, generate

    second = generate(FixtureConfig(n_docs=300),
                      str(tmp_path_factory.mktemp("fx2")))
    sources = [fixture_paths["pages"], second["pages"]]
    sink_root = str(tmp_path_factory.mktemp("backfill_sink"))

    sink = backfill(spark, sources, fixture_cfg.signatures, sink_root)
    assert len(sink.committed_batches()) == 2
    man = sink.manifest()
    assert all(m["n_rows"] > 0 for m in man)
    total = sink.read(spark).count()
    assert total == sum(m["n_rows"] for m in man)
    # each committed batch carries its source_path exactly once
    paths = set(sink.read(spark).select("source_path").distinct().toPandas()["source_path"])
    assert paths == set(sources)

    # idempotent re-run: commit timestamps unchanged
    stamps = sorted(m["committed_at_epoch"] for m in man)
    backfill(spark, sources, fixture_cfg.signatures, sink_root)
    assert sorted(m["committed_at_epoch"] for m in sink.manifest()) == stamps

    # a NEW source prepended to the list (sorts first): only it runs,
    # nothing is skipped or double-committed
    third = generate(FixtureConfig(n_docs=200),
                     str(tmp_path_factory.mktemp("fx0_first")))
    backfill(spark, [third["pages"], *sources], fixture_cfg.signatures, sink_root)
    assert len(sink.committed_batches()) == 3
    assert sorted(m["committed_at_epoch"] for m in sink.manifest())[:2] == stamps
    paths3 = set(sink.read(spark).select("source_path").distinct().toPandas()["source_path"])
    assert paths3 == set(sources) | {third["pages"]}

    # resume: drop one manifest entry -> only that source recomputes
    dropped = sink.committed_batches()[-1]
    os.remove(os.path.join(sink_root, "_manifest", f"{dropped}.json"))
    backfill(spark, [third["pages"], *sources], fixture_cfg.signatures, sink_root)
    assert len(sink.committed_batches()) == 3


def test_glob_filtered_scan(spark, fixture_paths, tmp_path_factory):
    """Extension/glob-filtered scan (the reference's filtered directory
    scans): only files matching pathGlobFilter enter the plan, batch and
    stream alike."""
    import glob as pyglob
    import os
    import shutil

    src = sorted(pyglob.glob(os.path.join(fixture_paths["pages_stream"], "*.parquet")))
    assert len(src) >= 2
    mixed = tmp_path_factory.mktemp("mixed_ext")
    shutil.copy2(src[0], mixed / "a.parquet")
    shutil.copy2(src[1], mixed / "b.dat")  # valid parquet, wrong extension

    all_rows = read_pages_batch(spark, str(mixed)).count()
    only_parquet = read_pages_batch(spark, str(mixed), glob="*.parquet").count()
    import pyarrow.parquet as pq
    want = pq.ParquetFile(str(mixed / "a.parquet")).metadata.num_rows
    assert only_parquet == want
    assert all_rows > only_parquet

    # streaming side honors the same filter
    from watermark_detector_spark.sources.pages import read_pages_stream
    stream = read_pages_stream(spark, str(mixed), glob="*.parquet")
    q = (stream.writeStream.format("memory").queryName("glob_scan_out")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("glob_scan_out").count() == want


def test_flagship_robust_to_null_malformed_and_empty(spark, fixture_cfg):
    """At 100 TB a few bad rows are guaranteed: null payloads, truncated
    html, and empty partitions must flow through the fused plan without
    failing the job (and without fabricating detections)."""
    import datetime

    sig = fixture_cfg.signatures[0]
    ts = datetime.datetime(2025, 2, 17)
    rows = [
        ("https://a.example.com/1", ts, None, "en"),                       # null payload
        ("https://a.example.com/2", ts, b"<html><main>truncat", "en"),     # malformed
        ("https://a.example.com/3", ts, b"\xff\xfe garbage bytes", "en"),  # not html
        ("https://a.example.com/4", ts,
         f"<html><body><main>{sig.pattern}</main></body></html>".encode(), "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string")
    out = flagship_batch(pages, fixture_cfg.signatures).toPandas()
    # only the well-formed page with a real signature produces a window
    assert out["n_detections"].sum() == 1
    assert (out["domain"] == "example.com").all()

    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, lang string")
    assert flagship_batch(empty, fixture_cfg.signatures).count() == 0
