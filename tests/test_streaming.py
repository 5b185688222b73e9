"""Structured Streaming tests: watermark late-drop vs golden,
checkpoint-restart exactly-once, stateful operators, stream-stream join.

All run with availableNow + maxFilesPerTrigger=1 over the mtime-ordered
fixture batch files — deterministic micro-batch replay.
"""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from watermark_detector_spark.operators.joins import (
    join_signatures_broadcast,
    join_signatures_stream_stream,
)
from watermark_detector_spark.plans.flagship import kept_detections_fused
from watermark_detector_spark.sources.pages import read_pages_stream
from watermark_detector_spark.streaming.pipeline import run_flagship_stream
from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink
from watermark_detector_spark.streaming.state import session_stats, track_best


def _norm_stream(df: pd.DataFrame) -> pd.DataFrame:
    df = df[["domain", "window_start", "window_end", "n_detections",
             "avg_score", "n_watermark", "n_text"]].copy()
    for c in ("n_detections", "n_watermark", "n_text"):
        df[c] = df[c].astype("int64")
    for c in ("window_start", "window_end"):
        df[c] = pd.to_datetime(df[c])
    return df.sort_values(["domain", "window_start"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def stream_run(spark, fixture_cfg, fixture_paths, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_run")
    sink = run_flagship_stream(
        spark,
        fixture_paths["pages_stream"],
        fixture_cfg.signatures,
        sink_root=str(root / "sink"),
        checkpoint_dir=str(root / "ckpt"),
    )
    return sink


def test_stream_matches_golden_with_late_drop(spark, fixture_paths, stream_run):
    """Streaming output == golden computed WITHOUT late rows; and the
    late rows make a difference (so the drop is actually exercised)."""
    got = _norm_stream(stream_run.read(spark).toPandas())
    gold = _norm_stream(pd.read_parquet(fixture_paths["golden_windows_stream"]))
    gold_all = _norm_stream(pd.read_parquet(fixture_paths["golden_windows"]))
    assert not gold.equals(gold_all), "fixtures must contain effective late rows"
    assert got.shape == gold.shape
    for c in ["domain", "window_start", "window_end", "n_detections",
              "n_watermark", "n_text"]:
        assert (got[c] == gold[c]).all(), c
    assert np.allclose(got["avg_score"].astype(float),
                       gold["avg_score"].astype(float), atol=1e-9)


def test_stream_manifest_lineage(stream_run, fixture_cfg):
    """One manifest entry per committed micro-batch, no duplicates."""
    batches = stream_run.committed_batches()
    assert len(batches) == len(set(batches))
    assert len(batches) >= fixture_cfg.n_batches  # one per input file (+final)
    man = stream_run.manifest()
    assert all(e["n_files"] >= 1 or e["n_rows"] == 0 for e in man)


def test_checkpoint_restart_exactly_once(spark, fixture_cfg, fixture_paths,
                                         stream_run, tmp_path_factory):
    """Interrupted run (first half of the stream) + restart (full stream)
    from the same checkpoint == uninterrupted run, with no duplicate
    batch commits (the resume_or_load analog, train_watermarks.py:298)."""
    root = tmp_path_factory.mktemp("restart")
    part_dir = root / "stream_partial"
    part_dir.mkdir()
    files = sorted(os.listdir(fixture_paths["pages_stream"]))
    half = files[: len(files) // 2]
    for i, f in enumerate(files):
        src = os.path.join(fixture_paths["pages_stream"], f)
        if f in half:
            dst = str(part_dir / f)
            shutil.copy2(src, dst)
            os.utime(dst, (1700000000 + i, 1700000000 + i))

    sink_root, ckpt = str(root / "sink"), str(root / "ckpt")
    # phase 1: only half the stream exists; run to completion ("crash")
    sink1 = run_flagship_stream(spark, str(part_dir), fixture_cfg.signatures,
                                sink_root, ckpt)
    committed_phase1 = sink1.committed_batches()
    assert committed_phase1

    # phase 2: rest of the stream arrives; RESTART from same checkpoint
    for i, f in enumerate(files):
        if f not in half:
            src = os.path.join(fixture_paths["pages_stream"], f)
            dst = str(part_dir / f)
            shutil.copy2(src, dst)
            os.utime(dst, (1700000000 + i, 1700000000 + i))
    sink2 = run_flagship_stream(spark, str(part_dir), fixture_cfg.signatures,
                                sink_root, ckpt)

    # exactly-once: batch ids strictly extend, no re-commit of phase-1 ids
    committed_phase2 = sink2.committed_batches()
    assert committed_phase2[: len(committed_phase1)] == committed_phase1
    assert len(set(committed_phase2)) == len(committed_phase2)

    # final content == uninterrupted reference run
    got = _norm_stream(sink2.read(spark).toPandas())
    want = _norm_stream(stream_run.read(spark).toPandas())
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)


def test_track_best_stateful(spark, fixture_cfg, fixture_paths, tmp_path_factory):
    """Per-domain running-best via applyInPandasWithState: final best ==
    batch max score per domain (checkpoint-on-improve analog)."""
    root = tmp_path_factory.mktemp("state")
    pages = read_pages_stream(spark, fixture_paths["pages_stream"])
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    kept = kept.where(~F.col("url").contains("/flush/"))  # drop sentinel
    q = (
        track_best(kept)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("best_out")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("SELECT domain, max(best_score) AS best_score FROM best_out GROUP BY domain")
        .toPandas()
        .sort_values("domain")
        .reset_index(drop=True)
    )
    pages_b = spark.read.parquet(fixture_paths["pages"])
    want = (
        kept_detections_fused(pages_b, fixture_cfg.signatures)
        .groupBy("domain").agg(F.max("score").alias("best_score"))
        .toPandas().sort_values("domain").reset_index(drop=True)
    )
    # streaming saw all rows (no watermark filter on input rows here)
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)


def test_session_stats_stateful(spark, fixture_cfg, fixture_paths, tmp_path_factory):
    """Custom sessionization emits coherent sessions (start<=end, n>0)."""
    root = tmp_path_factory.mktemp("sess")
    pages = read_pages_stream(spark, fixture_paths["pages_stream"])
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    q = (
        session_stats(kept, gap="5 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM sess_out").toPandas()
    assert len(got) > 0
    assert (got["session_start"] <= got["session_end"]).all()
    assert (got["n_detections"] > 0).all()


def test_stream_static_broadcast_join(spark, fixture_cfg, fixture_paths):
    pages = spark.read.parquet(fixture_paths["pages"])
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    sigs = spark.read.parquet(fixture_paths["signatures"])
    joined = join_signatures_broadcast(kept, sigs)
    assert joined.where(F.col("pattern").isNull()).count() == 0
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stream_stream_join_validity(spark, fixture_cfg, fixture_paths,
                                     tmp_path_factory):
    """Detections join signature versions only inside the validity
    window; a page before its signature's valid_from does not match."""
    root = tmp_path_factory.mktemp("ssj")
    pages = read_pages_stream(spark, fixture_paths["pages_stream"])
    kept = kept_detections_fused(pages, fixture_cfg.signatures)
    kept = kept.where(~F.col("url").contains("/flush/"))  # drop sentinel
    from watermark_detector_spark.schemas import SIGNATURES_SCHEMA

    sig_dir = root / "sigs_stream"  # file stream source needs a directory
    sig_dir.mkdir()
    shutil.copy2(fixture_paths["signatures"], str(sig_dir / "signatures.parquet"))
    sigs_stream = spark.readStream.schema(SIGNATURES_SCHEMA).parquet(str(sig_dir))
    joined = join_signatures_stream_stream(kept, sigs_stream)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ssj_out")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ssj_out").toPandas()
    assert len(got) > 0
    assert (pd.to_datetime(got["warc_ts"]) >= pd.to_datetime(got["valid_from"])).all()
    # batch oracle: same join condition in plain SQL
    pages_b = spark.read.parquet(fixture_paths["pages"])
    kept_b = kept_detections_fused(pages_b, fixture_cfg.signatures)
    sigs_b = spark.read.parquet(fixture_paths["signatures"]).withColumnRenamed("sig_id", "s_sig_id")
    want_n = kept_b.join(
        sigs_b,
        (F.col("sig_id") == F.col("s_sig_id"))
        & (F.col("warc_ts") >= F.col("valid_from"))
        & (F.col("warc_ts") < F.col("valid_from") + F.expr("INTERVAL 2 hours")),
        "inner",
    ).count()
    assert len(got) == want_n


def test_parse_gap_seconds_units():
    """Gap strings parse per unit and reject garbage (silently treating
    '1 hour' as seconds was a sessionization footgun)."""
    from watermark_detector_spark.streaming.state import parse_gap_seconds

    assert parse_gap_seconds("30 seconds") == 30
    assert parse_gap_seconds("5 minutes") == 300
    assert parse_gap_seconds("1 hour") == 3600
    assert parse_gap_seconds("2 days") == 172800
    for bad in ("5 fortnights", "minutes", "1.5 minutes", ""):
        with pytest.raises(ValueError):
            parse_gap_seconds(bad)


def test_sink_hadoop_fs_uri_root(spark, tmp_path_factory):
    """The exactly-once sink must run against a scheme-qualified root
    through the Hadoop FileSystem API (the 100 TB object-store posture:
    no driver-local os.* in the protocol). file:// is the scheme the
    sandbox can exercise; hdfs/s3a differ only in the connector."""
    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = "file://" + str(tmp_path_factory.mktemp("sink_uri"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2)
    df = spark.range(100).withColumnRenamed("id", "v")
    sink.write_batch(df, 0)
    sink.write_batch(df.where("v < 10"), 1)
    assert sink.committed_batches() == [0, 1]
    man = sink.manifest()
    assert [m["n_rows"] for m in man] == [100, 10]
    assert all(m["n_files"] >= 1 for m in man)
    # replay of a committed batch is a no-op (manifest timestamp frozen)
    t0 = man[0]["committed_at_epoch"]
    sink.write_batch(df, 0)
    assert sink.manifest()[0]["committed_at_epoch"] == t0
    got = sink.read(spark)
    assert got.count() == 110


def test_sink_counts_rows_from_the_write(spark, tmp_path_factory):
    """``n_rows`` comes from the write job itself: an empty batch
    commits 0 rows, a failed write raises and commits nothing, and a
    range-partitioned (z-order) compaction and a merge compaction count
    each row once."""
    from watermark_detector_spark.streaming.sink import UpsertSink

    root = str(tmp_path_factory.mktemp("sink_count"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2,
                                  vacuum_retention_s=0)
    df = spark.range(40).selectExpr("id AS v", "id % 7 AS w")
    sink.write_batch(df.where("v < 0"), 0)
    boom = df.withColumn(
        "v", F.when(F.col("v") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("v")))
    with pytest.raises(Exception, match="boom"):
        sink.write_batch(boom, 1)
    assert sink.committed_batches() == [0]
    sink.write_batch(df, 1)
    sink.write_batch(df.where("v < 5"), 2)
    assert [m["n_rows"] for m in sink.manifest()] == [0, 40, 5]
    entries = sink.compact(spark, zorder_cols=["v", "w"])
    assert [e["n_rows"] for e in entries] == [45]
    assert sink.read(spark).count() == 45

    up = UpsertSink(str(tmp_path_factory.mktemp("upsert_count")),
                    key_cols="k", output_partitions=2)
    up.write_batch(spark.range(10).selectExpr("id % 3 AS k", "id AS x"), 0)
    up.write_batch(spark.range(10).selectExpr("id % 4 AS k", "id AS x"), 1)
    assert up.compact_merge(spark)["n_rows"] == 4


def test_engine_conf_pins_rocksdb_changelog_checkpointing(spark):
    """Stateful queries run on RocksDB with changelog checkpoints: a
    commit uploads the batch's changes, not a zipped full snapshot."""
    from watermark_detector_spark.session import engine_conf

    pins = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    for key, value in pins.items():
        assert engine_conf()[key] == value
        assert spark.conf.get(key) == value


def test_sink_crash_between_data_and_manifest(spark, tmp_path_factory):
    """Fault injection on the exactly-once protocol's crash window: data
    files land, the process dies BEFORE the manifest publishes. The
    orphan batch must be invisible to read(), absent from lineage, and
    the replayed write must commit it with identical rows and no
    duplicates — this is the claim that makes every micro-batch
    resumable from checkpoint."""
    import shutil as _shutil

    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_crash"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2)
    b0 = spark.range(50).withColumnRenamed("id", "v")
    b1 = spark.range(50, 80).withColumnRenamed("id", "v")
    sink.write_batch(b0, 0)
    sink.write_batch(b1, 1)
    # simulate the crash: batch 1's data files exist, manifest does not
    os.remove(os.path.join(root, "_manifest", "1.json"))
    assert sink.committed_batches() == [0]
    got = sink.read(spark)
    assert sorted(r["v"] for r in got.collect()) == list(range(50))  # orphan invisible
    # replay (what the restarted stream does): batch 1 re-commits
    sink.write_batch(b1, 1)
    assert sink.committed_batches() == [0, 1]
    assert sink.manifest()[1]["n_rows"] == 30
    assert sorted(r["v"] for r in sink.read(spark).collect()) == list(range(80))
    # second crash flavor: data dir half-written (no manifest) — replay
    # overwrites it wholesale, never appends
    data1 = os.path.join(root, "data", "batch_id=1")
    os.remove(os.path.join(root, "_manifest", "1.json"))
    _shutil.rmtree(data1)
    os.makedirs(data1)
    open(os.path.join(data1, "garbage.parquet.tmp"), "w").write("junk")
    sink.write_batch(b1, 1)
    assert sorted(r["v"] for r in sink.read(spark).collect()) == list(range(80))


def test_streaming_state_is_bounded_over_many_batches(spark, tmp_path_factory):
    """Soak-shaped state audit: a windowed agg with watermark over ~40
    micro-batches (maxFilesPerTrigger=1, event time advancing per file)
    must hold the state-store row count FLAT once the watermark starts
    evicting — state ∝ watermark horizon, NOT stream length. This is
    the pytest behind the 100 TB claim that long-running streams don't
    accrue state."""
    import pandas as pd

    src_dir = tmp_path_factory.mktemp("soak_src")
    ckpt = str(tmp_path_factory.mktemp("soak_ckpt"))
    n_files, per_file = 40, 60
    base = pd.Timestamp("2025-03-01 00:00:00")
    for i in range(n_files):
        ts = [base + pd.Timedelta(minutes=10 * i, seconds=10 * j)
              for j in range(per_file)]
        pdf = pd.DataFrame({
            "ts": pd.Series(ts, dtype="datetime64[us]"),
            "etype": [f"t{j % 3}" for j in range(per_file)],
            "value": [float(j) for j in range(per_file)],
        })
        pdf.to_parquet(os.path.join(str(src_dir), f"f{i:03d}.parquet"))

    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (spark.readStream.schema("ts timestamp, etype string, value double")
               .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
        agg = (src.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "5 minutes"), "etype")
               .agg(F.count(F.lit(1)).alias("n")))
        q = (agg.writeStream.outputMode("append").format("memory")
             .queryName("wmd_soak").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p["stateOperators"]]
        state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert len(state_rows) >= 30, f"expected ~40 micro-batches, got {len(state_rows)}"
    # each file spans 10 min = 2 windows x 3 types = 6 rows; the horizon
    # keeps <= ~3 unemitted windows alive -> state must stay O(10), and
    # the TAIL must not exceed the early plateau (no monotone growth)
    warm = state_rows[5:]
    assert max(warm) <= 30, f"state grew with stream length: {state_rows}"
    assert state_rows[-1] <= max(state_rows[:10]), (
        f"state still growing at end: {state_rows}")


def test_sink_compaction_preserves_exactly_once(spark, tmp_path_factory):
    """Small-file compaction (Iceberg snapshot-rewrite analog): folding
    per-batch commits into range manifests must change NOTHING a reader
    or a replayed writer can observe — same rows, same committed ledger,
    replays of covered batches still no-ops — while slashing file count.
    Every crash window and the retention GC are exercised."""
    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_compact"))
    sink = ExactlyOnceParquetSink(root, output_partitions=4,
                                  vacuum_retention_s=0)  # immediate GC (tests)
    for b in range(6):
        sink.write_batch(
            spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v"), b)
    before = sorted(r["v"] for r in sink.read(spark).collect())
    n_files_before = sum(m["n_files"] for m in sink.manifest())

    entries = sink.compact(spark, output_partitions=2)
    assert [e["lo"] for e in entries] == [0] and entries[0]["hi"] == 5
    assert entries[0]["n_rows"] == 60
    assert sink.committed_batches() == list(range(6))
    assert sorted(r["v"] for r in sink.read(spark).collect()) == before
    assert sum(m["n_files"] for m in sink.manifest()) == 2 < n_files_before
    # replay of a compacted-away batch is STILL a no-op (ledger intact)
    sink.write_batch(spark.range(999).withColumnRenamed("id", "v"), 3)
    assert sorted(r["v"] for r in sink.read(spark).collect()) == before
    # stream continues after compaction: new loose batch + read union
    sink.write_batch(spark.range(60, 70).withColumnRenamed("id", "v"), 6)
    assert sorted(r["v"] for r in sink.read(spark).collect()) == list(range(70))
    assert sink.committed_batches() == list(range(7))

    # crash window 1: compacted data written, range manifest NOT yet
    # published -> readers still see per-batch truth; rerun completes
    sink2root = str(tmp_path_factory.mktemp("sink_compact2"))
    sink2 = ExactlyOnceParquetSink(sink2root, output_partitions=4,
                                   vacuum_retention_s=0)
    for b in range(3):
        sink2.write_batch(
            spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "v"), b)
    want2 = sorted(r["v"] for r in sink2.read(spark).collect())
    sink2.compact(spark, vacuum=False)  # publish, but keep old manifests
    # simulate crash BEFORE publish by deleting only the range manifest:
    os.remove(os.path.join(sink2root, "_manifest", "compact_0-2.json"))
    assert sorted(r["v"] for r in sink2.read(spark).collect()) == want2
    # the unpublished compact_0-2 data dir is an orphan; a later vacuum
    # with retention=0 sweeps it, and the retried compact re-creates it
    assert sink2.vacuum() == 1  # the orphan dir
    assert sink2.compact(spark)  # replay: re-publishes and vacuums
    assert sorted(r["v"] for r in sink2.read(spark).collect()) == want2
    assert sink2.vacuum() == 0  # idempotent, nothing left to sweep

    # crash window 2: range manifest published, vacuum died mid-sweep ->
    # shadowed per-batch entries must NOT double-read; retention guards
    # concurrent readers (nothing swept until the window passes)
    sink3root = str(tmp_path_factory.mktemp("sink_compact3"))
    sink3 = ExactlyOnceParquetSink(sink3root, output_partitions=4,
                                   vacuum_retention_s=0)
    for b in range(3):
        sink3.write_batch(
            spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "v"), b)
    want3 = sorted(r["v"] for r in sink3.read(spark).collect())
    sink3.compact(spark, vacuum=False)  # published, old manifests remain
    assert sorted(r["v"] for r in sink3.read(spark).collect()) == want3
    # a long retention window defers the sweep entirely (reader grace)
    assert sink3.vacuum(retention_s=3600) == 0
    assert sink3.vacuum() == 3
    assert sorted(r["v"] for r in sink3.read(spark).collect()) == want3

    # gaps: each contiguous run folds into its OWN range; the gap id is
    # never claimed committed
    sink4root = str(tmp_path_factory.mktemp("sink_compact4"))
    sink4 = ExactlyOnceParquetSink(sink4root, output_partitions=2,
                                   vacuum_retention_s=0)
    for b in [0, 1, 2, 5, 6]:  # 3-4 missing (uncommitted)
        sink4.write_batch(
            spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "v"), b)
    want4 = sorted(r["v"] for r in sink4.read(spark).collect())
    entries4 = sink4.compact(spark)
    assert [(e["lo"], e["hi"]) for e in entries4] == [(0, 2), (5, 6)]
    assert sink4.committed_batches() == [0, 1, 2, 5, 6]
    assert sorted(r["v"] for r in sink4.read(spark).collect()) == want4
    # batch 3 is NOT covered: a (late) replay of it must still commit
    sink4.write_batch(spark.range(15, 20).withColumnRenamed("id", "v"), 3)
    assert sink4.committed_batches() == [0, 1, 2, 3, 5, 6]


def test_compaction_interleaved_with_stream_restart(spark, fixture_cfg,
                                                    fixture_paths,
                                                    tmp_path_factory):
    """The realistic ops sequence: stream half the input -> compact the
    sink while the stream is down -> rest of the input arrives ->
    RESTART from the same checkpoint. The restart replays its last
    in-flight batch against a sink whose early batches are now a range
    manifest; content must equal the uninterrupted run, with zero
    duplicates."""
    root = tmp_path_factory.mktemp("compact_restart")
    part_dir = root / "stream_partial"
    part_dir.mkdir()
    files = sorted(os.listdir(fixture_paths["pages_stream"]))
    half = files[: len(files) // 2]
    for i, f in enumerate(files):
        if f in half:
            dst = str(part_dir / f)
            shutil.copy2(os.path.join(fixture_paths["pages_stream"], f), dst)
            os.utime(dst, (1700000000 + i, 1700000000 + i))

    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    sink_root, ckpt = str(root / "sink"), str(root / "ckpt")
    sink1 = run_flagship_stream(spark, str(part_dir), fixture_cfg.signatures,
                                sink_root, ckpt)
    phase1 = sink1.committed_batches()
    assert len(phase1) >= 2

    # maintenance while the stream is down (as a separate process would:
    # fresh sink instance, immediate retention for the test)
    maint = ExactlyOnceParquetSink(sink_root, vacuum_retention_s=0)
    entries = maint.compact(spark, output_partitions=2)
    assert entries and entries[0]["lo"] == phase1[0]

    for i, f in enumerate(files):
        if f not in half:
            dst = str(part_dir / f)
            shutil.copy2(os.path.join(fixture_paths["pages_stream"], f), dst)
            os.utime(dst, (1700000000 + i, 1700000000 + i))
    sink2 = run_flagship_stream(spark, str(part_dir), fixture_cfg.signatures,
                                sink_root, ckpt)

    phase2 = sink2.committed_batches()
    assert phase2[: len(phase1)] == phase1      # ledger intact across compaction
    assert len(set(phase2)) == len(phase2)      # no duplicates

    # content == uninterrupted reference run into a fresh sink
    ref_root, ref_ckpt = str(root / "ref_sink"), str(root / "ref_ckpt")
    ref = run_flagship_stream(spark, fixture_paths["pages_stream"],
                              fixture_cfg.signatures, ref_root, ref_ckpt)
    got = _norm_stream(sink2.read(spark).toPandas())
    want = _norm_stream(ref.read(spark).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_concurrent_compact_during_active_stream(spark, fixture_cfg,
                                                 fixture_paths,
                                                 tmp_path_factory):
    """Compaction from a SEPARATE maintenance-process sink instance while
    the stream is actively committing (not between runs, as the restart
    test covers): no batch lost, a replay of a batch the compactor just
    folded is an effective no-op (rewritten entries stay shadowed by the
    range manifest, so readers never double-count), the ledger stays
    contiguous, and totals match the streamed input exactly."""
    root = tmp_path_factory.mktemp("concurrent_compact")
    sink_root = str(root / "sink")
    writer_sink = ExactlyOnceParquetSink(sink_root, output_partitions=2,
                                         vacuum_retention_s=0)
    # second instance = the separate compactor process (own ranges cache)
    compactor = ExactlyOnceParquetSink(sink_root, output_partitions=2,
                                       vacuum_retention_s=0)
    mid = {}

    def handle(df, bid):
        writer_sink.write_batch(df.select("url"), bid)
        if bid == 3:
            # maintenance kicks in mid-stream: folds 0..3 and (retention
            # 0) immediately sweeps their per-batch manifests
            mid["entries"] = compactor.compact(spark)
            # the streaming engine replays a just-folded batch against
            # the writer's now-STALE ranges cache: the rewrite lands as
            # a shadowed per-batch entry that readers must ignore
            writer_sink.write_batch(df.select("url"), 2)

    pages = read_pages_stream(spark, fixture_paths["pages_stream"], 1)
    q = (pages.writeStream.outputMode("append")
         .option("checkpointLocation", str(root / "ckpt"))
         .foreachBatch(handle).trigger(availableNow=True).start())
    q.awaitTermination()

    assert mid["entries"] and mid["entries"][0]["lo"] == 0
    assert mid["entries"][0]["hi"] >= 3
    total = spark.read.parquet(fixture_paths["pages_stream"]).count()
    assert writer_sink.read(spark).count() == total
    committed = writer_sink.committed_batches()
    assert committed == list(range(len(committed)))
    assert len(committed) >= fixture_cfg.n_batches

    # replays before/at/after the compaction point: all effective no-ops
    for b in (0, 3, committed[-1]):
        writer_sink.write_batch(
            spark.range(7).withColumnRenamed("id", "url"), b)
    assert writer_sink.read(spark).count() == total

    # a later maintenance pass folds the whole ledger (incl. shadowed
    # rewrites) and sweeps it clean; content still byte-stable
    compactor.compact(spark)
    assert compactor.vacuum() == 0 or writer_sink.read(spark).count() == total
    assert writer_sink.read(spark).count() == total
    assert writer_sink.committed_batches() == committed


def test_pattern_match_stream_semantics(spark, tmp_path_factory):
    """Streaming CEP adjacency (the k=2 sequence matcher): out-of-order
    arrival across micro-batches buffers correctly, a LATE event (below
    watermark on arrival) is dropped and cannot fabricate a match,
    emission happens via event-time TIMEOUT for keys that stop receiving
    data, and pairs whose second event never drops below the final
    watermark are (correctly) not emitted."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import sequence_match_stream

    T = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("cep_stream")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        # b1: u1 has an adjacent click->purchase; u2 a lone click
        [(1, T(0, 0), 1, "click"), (2, T(0, 5), 1, "purchase"),
         (3, T(0, 0), 2, "click")],
        # b2: u2's view arrives OUT OF ORDER (ts between u2's click and
        # a later would-be event); u1 gets a pending click
        [(4, T(0, 2), 2, "view"), (5, T(2, 0), 1, "click")],
        # b3: u3's tail pair (never finalizes: second >= final wm);
        # u2 purchase@10:00:01 is LATE (wm is 10:01:00 by now) -> must
        # be dropped, else it would create a u2 click->purchase match
        [(6, T(5, 0), 3, "click"), (7, T(5, 30), 3, "purchase"),
         (8, T(0, 1), 2, "purchase")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    pm = sequence_match_stream(stream, ["click", "purchase"], max_gap_s=3600,
                               watermark="1 minute").select(
        "user_id", F.col("t_first").alias("first_ts"),
        F.col("t_last").alias("second_ts"))
    q = (pm.writeStream.outputMode("append").format("memory")
         .queryName("cep_pattern_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = [(r["user_id"], r["first_ts"], r["second_ts"])
           for r in spark.table("cep_pattern_test").collect()]
    assert got == [(1, T(0, 0), T(0, 5))], got


def test_funnel_stream_semantics(spark, tmp_path_factory):
    """Streaming k-step funnel: greedy chain advances only over
    FINALIZED (below-watermark) events in event-time order, the window
    cut limits the level, a late step event is dropped and cannot
    deepen the chain, and the final update per key equals the batch
    funnel over the finalized events."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import funnel_stream

    T = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("funnel_stream")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        # b1: chains begin
        [(1, T(0, 0), 1, "view"), (2, T(0, 10), 1, "click"),
         (3, T(0, 0), 2, "view"), (4, T(0, 5), 2, "purchase"),   # no click
         (5, T(0, 0), 3, "view"), (6, T(0, 20), 3, "click"),
         (7, T(0, 15), 3, "purchase"),   # purchase BEFORE click in event time
         (8, T(0, 0), 4, "view"), (9, T(0, 45), 4, "click"),     # outside 30 s
         (10, T(0, 0), 5, "view")],
        # b2: u1 completes; u9 error advances the watermark
        [(11, T(0, 20), 1, "purchase"), (12, T(2, 0), 9, "error")],
        # b3: u5's click is LATE (wm is 10:01:00 now) -> dropped;
        # u9 advances the watermark past every real event
        [(13, T(0, 30), 5, "click"), (14, T(6, 0), 9, "error")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    fu = funnel_stream(stream, ["view", "click", "purchase"], within_s=30,
                       watermark="1 minute")
    q = (fu.writeStream.outputMode("update").format("memory")
         .queryName("funnel_stream_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    final = {}
    for r in spark.table("funnel_stream_test").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["funnel_level"] > cur["funnel_level"]:
            final[r["user_id"]] = r
    got = {u: (r["funnel_level"], r["t_start"], r["t_complete"])
           for u, r in final.items()}
    assert got == {
        1: (3, T(0, 0), T(0, 20)),
        2: (1, T(0, 0), T(0, 0)),      # purchase can't skip the click step
        3: (2, T(0, 0), T(0, 20)),     # purchase precedes click: not counted
        4: (1, T(0, 0), T(0, 0)),      # click outside the 30 s window
        5: (1, T(0, 0), T(0, 0)),      # late click dropped
    }, got


def test_compact_sort_clustered_rewrite(spark, tmp_path_factory):
    """compact(sort_cols=...): the rewrite range-partitions on the
    cluster key and sorts within each file, so every output file owns a
    DISJOINT key range (parquet footer min/max prunes whole files on
    key predicates) — while content, ledger, and replay-no-op semantics
    are identical to the plain rewrite."""
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("sink_sorted") / "sink")
    sink = ExactlyOnceParquetSink(root, output_partitions=4,
                                  vacuum_retention_s=0)
    # batches deliberately interleave the key space so only a sorted
    # rewrite can produce disjoint per-file ranges
    for b in range(4):
        sink.write_batch(
            spark.range(b, 400, 4).withColumnRenamed("id", "v"), b)
    before = sorted(r["v"] for r in sink.read(spark).collect())

    entries = sink.compact(spark, sort_cols=["v"])
    assert entries and entries[0]["n_rows"] == 400
    assert sorted(r["v"] for r in sink.read(spark).collect()) == before
    data_dir = os.path.join(root, "data", "compact_0-3")
    ranges = []
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(data_dir, f), columns=["v"])
            if t.num_rows:
                vs = t.column("v").to_pylist()
                assert vs == sorted(vs), f  # sorted within file
                ranges.append((vs[0], vs[-1]))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint key ranges across files
    # exactly-once unaffected: replay of a folded batch is still a no-op
    sink.write_batch(spark.range(99).withColumnRenamed("id", "v"), 2)
    assert sorted(r["v"] for r in sink.read(spark).collect()) == before


def test_pattern_match_stream_expires_dead_heads(spark, tmp_path_factory):
    """Adjacency (the k=2 sequence matcher): a retained head whose
    pairing window the watermark has passed is EVICTED (state bounded
    by horizon, not by total keys ever seen): u1's lone click can never
    match once wm > click+gap, so its state row must disappear from the
    store."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import sequence_match_stream

    T = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("cep_expiry")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        [(1, T(0, 0), 1, "click"), (2, T(0, 30), 9, "error")],
        [(3, T(5, 0), 9, "error")],   # wm -> 10:04:00: u1 head expired
        [(4, T(10, 0), 9, "error")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    pm = sequence_match_stream(stream, ["click", "purchase"], max_gap_s=60,
                               watermark="1 minute")
    q = (pm.writeStream.outputMode("append").format("memory")
         .queryName("cep_expiry_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("cep_expiry_test").count() == 0
    import json as _json

    state_rows = []
    for pr in q.recentProgress:
        d = pr if isinstance(pr, dict) else _json.loads(pr.json)
        ops = d.get("stateOperators") or []
        if ops:
            state_rows.append(ops[0]["numRowsTotal"])
    # final store holds only u9's still-pending buffer entry — u1's
    # dead head was evicted, not retained forever
    assert state_rows and state_rows[-1] == 1, state_rows


def test_warcish_stream_reader_incremental_and_restart(spark, tmp_path_factory):
    """Custom streaming source: each micro-batch reads only NEW
    container files (name-watermark offsets), and a restart from
    checkpoint resumes after the last committed file instead of
    re-reading history."""
    from watermark_detector_spark.sources.warcish import (
        WarcishDataSource,
        write_records,
    )

    spark.dataSource.register(WarcishDataSource)
    root = tmp_path_factory.mktemp("warcish_stream")
    src = root / "src"
    src.mkdir()
    ckpt = str(root / "ckpt")

    def emit(i, urls):
        write_records(
            str(src / f"drop-{i:05d}.warcish"),
            [(u, 1_700_000_000_000_000 + i, "en", b"<p>x</p>") for u in urls])

    out = str(root / "out")

    def run_once():
        q = (spark.readStream.format("warcish").load(str(src))
             .writeStream.outputMode("append").format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(r["url"] for r in spark.read.parquet(out).collect())

    emit(0, ["u0", "u1"])
    emit(1, ["u2"])
    assert run_once() == ["u0", "u1", "u2"]
    emit(2, ["u3"])
    # restart from checkpoint: only the new file is consumed — history
    # is neither re-read nor duplicated in the file sink
    assert run_once() == ["u0", "u1", "u2", "u3"]
    # nothing new: a third run adds nothing (exactly-once)
    assert run_once() == ["u0", "u1", "u2", "u3"]


def test_sink_time_travel_read(spark, tmp_path_factory):
    """read(as_of_batch=N) returns the table exactly as of batch N
    (Iceberg snapshot-read analog): before compaction, after compaction
    while the shadowed per-batch files survive the retention window,
    and raises the documented expired-snapshot error once vacuum has
    folded history past the cut."""
    import pytest as _pytest

    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_tt"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2,
                                  vacuum_retention_s=0)
    for b in range(5):
        sink.write_batch(
            spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v"), b)
    tt = lambda n: sorted(
        r["v"] for r in sink.read(spark, as_of_batch=n).collect())
    assert tt(0) == list(range(10))
    assert tt(2) == list(range(30))
    assert tt(4) == list(range(50))
    assert tt(99) == list(range(50))      # beyond head == current
    sink.compact(spark, vacuum=False)     # folds 0-4, per-batch kept
    assert tt(2) == list(range(30))       # straddling cut -> batch dirs
    assert tt(4) == list(range(50))       # fully covered -> compact dir
    sink.vacuum()                         # retention 0: history folded
    assert tt(4) == list(range(50))
    with _pytest.raises(ValueError, match="EXPIRED"):
        sink.read(spark, as_of_batch=2)


def test_vacuum_empty_compact_dir_ages_out(spark, tmp_path_factory):
    """An ABANDONED empty compact_* dir (compactor crashed between
    mkdir and first write) must still age out of vacuum on a real
    filesystem via its own mtime — while a freshly-created empty dir
    stays protected by the retention window."""
    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_empty_compact"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2)
    sink.write_batch(spark.range(5).withColumnRenamed("id", "v"), 0)
    old = os.path.join(root, "data", "compact_90-99")
    os.makedirs(old)
    os.utime(old, (1600000000, 1600000000))        # abandoned years ago
    fresh = os.path.join(root, "data", "compact_70-79")
    os.makedirs(fresh)                              # mtime = now
    assert sink.vacuum(retention_s=300) == 1        # old swept
    assert not os.path.exists(old)
    assert os.path.exists(fresh)                    # fresh protected
    assert sorted(r["v"] for r in sink.read(spark).collect()) == list(range(5))


def test_sequence_match_stream_semantics(spark, tmp_path_factory):
    """k-step streaming CEP: a window completed ACROSS batch boundaries
    via the retained finalized tail emits; a window broken by a
    watermark-late arrival does not; tail state for dead keys is
    expired once the watermark passes tail_last + gap."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import sequence_match_stream

    T = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("seq_stream")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        # u1: first two steps; u2: full prefix awaiting a purchase
        [(1, T(0, 0), 1, "view"), (2, T(0, 30), 1, "click"),
         (3, T(0, 0), 2, "view"), (4, T(0, 10), 2, "click"),
         (5, T(1, 0), 9, "error")],
        # wm -> 10:04:00: u1/u2 prefixes finalize into the tail
        [(6, T(5, 0), 9, "error")],
        # u1 completes across the boundary (purchase >= wm, gap from
        # click 5.5 min <= 10 min); u2's purchase is LATE (< wm) ->
        # dropped, its window never completes
        [(7, T(6, 0), 1, "purchase"), (8, T(0, 20), 2, "purchase"),
         (9, T(10, 0), 9, "error")],
        # wm -> 10:19: u1's match finalizes AND every tail is past
        # tail_last + gap -> expired
        [(10, T(20, 0), 9, "error")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    sm = sequence_match_stream(stream, ["view", "click", "purchase"],
                               max_gap_s=600, watermark="1 minute")
    q = (sm.writeStream.outputMode("append").format("memory")
         .queryName("seq_stream_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = [(r["user_id"], r["t_first"], r["t_last"], r["first_id"])
           for r in spark.table("seq_stream_test").collect()]
    assert got == [(1, T(0, 0), T(6, 0), 1)]
    import json as _json

    state_rows = []
    for pr in q.recentProgress:
        d = pr if isinstance(pr, dict) else _json.loads(pr.json)
        ops = d.get("stateOperators") or []
        if ops:
            state_rows.append(ops[0]["numRowsTotal"])
    # final store: only u9's still-pending 10:20 event — u1/u2 tails
    # expired (gap rule), nothing retained forever
    assert state_rows and state_rows[-1] == 1, state_rows


@pytest.mark.parametrize("steps,n_matches", [
    (["view", "click", "purchase"], 3),
    (["click", "purchase"], 4),
], ids=["k3", "k2"])
def test_sequence_match_stream_equals_batch(spark, tmp_path_factory, steps,
                                            n_matches):
    """On an in-order replay where every match finalizes, the streaming
    operator emits exactly the batch sequence_match rows — for k=3 and
    for the k=2 adjacency case."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import sequence_match
    from watermark_detector_spark.streaming.state import sequence_match_stream

    T = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    rows = [
        (1, T(0), 1, "view"), (2, T(1), 1, "click"), (3, T(2), 1, "purchase"),
        (4, T(0), 2, "view"), (5, T(1), 2, "error"),
        (6, T(2), 2, "click"), (7, T(3), 2, "purchase"),
        (8, T(0), 3, "view"), (9, T(1), 3, "click"), (10, T(50), 3, "purchase"),
        (11, T(0), 4, "view"), (12, T(1), 4, "click"), (13, T(2), 4, "purchase"),
        (14, T(3), 4, "view"), (15, T(4), 4, "click"), (16, T(5), 4, "purchase"),
    ]
    wm_drivers = [(17, T(58), 9, "error"), (18, T(59), 9, "error")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    want = sorted(
        (r["user_id"], r["t_first"], r["t_last"], r["first_id"])
        for r in sequence_match(df, steps, max_gap_s=600).collect())

    root = tmp_path_factory.mktemp("seq_eq")
    src_dir = root / "src"
    src_dir.mkdir()
    # all real events in batch 0 (nothing late), then watermark drivers
    for i, rs in enumerate([rows, wm_drivers]):
        pdf = pd.DataFrame(rs, columns=["event_id", "ts", "user_id",
                                        "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    sm = sequence_match_stream(stream, steps, max_gap_s=600,
                               watermark="1 minute")
    name = "seq_eq_test_k" + str(len(steps))
    q = (sm.writeStream.outputMode("append").format("memory")
         .queryName(name)
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r["user_id"], r["t_first"], r["t_last"], r["first_id"])
                 for r in spark.table(name).collect())
    assert got == want and len(got) == n_matches


def test_funnel_stream_ttl_reclaims_inactive_keys(spark, tmp_path_factory):
    """funnel_stream(state_ttl_s=...): a key whose chain started but
    that has seen no pending events for state_ttl_s of event time is
    REMOVED from the store (opt-in chain-restart semantics); without
    the option chain state lives for the query lifetime by contract."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import funnel_stream

    T = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("funnel_ttl")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        # u1 starts a chain and goes silent; u9's non-step events only
        # drive the watermark (and leave no state of their own once
        # consumed with an empty chain)
        [(1, T(0, 0), 1, "click"), (2, T(0, 30), 9, "view")],
        [(3, T(5, 0), 9, "view")],    # wm->10:04: u1 click finalizes,
        #                               level-1 emitted, TTL timer armed
        [(4, T(10, 0), 9, "view")],   # wm->10:09 > ttl timer: u1 removed
        [(5, T(15, 0), 9, "view")],   # observe the post-removal store
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    fu = funnel_stream(stream, ["click", "purchase"], within_s=3600,
                       watermark="1 minute", state_ttl_s=60)
    q = (fu.writeStream.outputMode("update").format("memory")
         .queryName("funnel_ttl_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # u1's partial chain still emitted before expiry
    rows = spark.table("funnel_ttl_test").collect()
    assert {(r["user_id"], r["funnel_level"]) for r in rows} == {(1, 1)}
    import json as _json

    state_rows = []
    for pr in q.recentProgress:
        d = pr if isinstance(pr, dict) else _json.loads(pr.json)
        ops = d.get("stateOperators") or []
        if ops:
            state_rows.append(ops[0]["numRowsTotal"])
    # final store: only u9's still-pending 10:15 event — u1's expired
    # chain row is gone (would be 2 without the TTL)
    assert state_rows and state_rows[-1] == 1, state_rows


def test_warcish_stream_offsets_pin_batch_file_list(tmp_path_factory):
    """Replay identity (advice r5): offsets planned by the stream
    reader embed the CONCRETE file list of the batch, so replaying a
    committed batch after a straggler lands with a name INSIDE the
    replayed range still reads exactly the original files (the
    straggler is logged and skipped, never silently folded in)."""
    from watermark_detector_spark.sources.warcish import (
        WarcishStreamReader,
        write_records,
    )

    src = tmp_path_factory.mktemp("warcish_offsets")

    def emit(name, url):
        write_records(str(src / name),
                      [(url, 1_700_000_000_000_000, "en", b"x")])

    rdr = WarcishStreamReader({"path": str(src)})
    start = rdr.initialOffset()
    emit("drop-00000.warcish", "u0")
    emit("drop-00002.warcish", "u2")
    end = rdr.latestOffset()
    assert end["last"] == "drop-00002.warcish"
    assert end["files"] == ["drop-00000.warcish", "drop-00002.warcish"]
    planned = sorted(p.path for p in rdr.partitions(start, end))
    assert [os.path.basename(p) for p in planned] == end["files"]

    # straggler lands INSIDE the already-planned range; a replay of the
    # same (start, end] must still read exactly the original file list
    emit("drop-00001.warcish", "u1-straggler")
    replay = WarcishStreamReader({"path": str(src)})  # fresh, post-restart
    got = sorted(os.path.basename(p.path)
                 for p in replay.partitions(start, end))
    assert got == ["drop-00000.warcish", "drop-00002.warcish"]

    # the next batch does NOT resurrect the straggler either (it sorts
    # below the consumed high-watermark — same rule as a late event
    # below the event-time watermark)
    emit("drop-00003.warcish", "u3")
    nxt = replay.latestOffset()
    assert nxt["files"] == ["drop-00003.warcish"]

    # no new files -> latestOffset returns the previous offset VERBATIM
    # (Spark compares serialized offsets; a differing dict would plan a
    # spurious empty micro-batch)
    assert replay.latestOffset() is nxt


def test_sink_time_travel_as_of_timestamp(spark, tmp_path_factory):
    """read(as_of_timestamp=T) resolves T to the last batch committed
    at or before T via the manifest ledger's commit times, which
    SURVIVE compaction (range manifests embed batch_commits) — and
    inherits as_of_batch's EXPIRED contract once vacuum folds the
    per-batch history a straddling read would need."""
    import time as _time

    import pytest as _pytest

    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_tt_ts"))
    sink = ExactlyOnceParquetSink(root, output_partitions=1,
                                  vacuum_retention_s=0)
    marks = []
    for b in range(4):
        sink.write_batch(
            spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v"), b)
        marks.append(_time.time())   # instant just after batch b commits
        _time.sleep(0.05)            # commit times must be distinct

    tt = lambda ts: sorted(
        r["v"] for r in sink.read(spark, as_of_timestamp=ts).collect())
    assert tt(marks[1]) == list(range(20))
    assert tt(marks[3]) == list(range(40))
    assert tt(_time.time() + 3600) == list(range(40))   # future == head
    with _pytest.raises(ValueError, match="no snapshot"):
        sink.read(spark, as_of_timestamp=marks[0] - 10)
    with _pytest.raises(ValueError, match="not both"):
        sink.read(spark, as_of_batch=1, as_of_timestamp=marks[1])

    sink.compact(spark, vacuum=False)
    # per-batch manifests still present: both resolutions unchanged
    assert tt(marks[1]) == list(range(20))
    sink.vacuum()   # retention 0: shadowed per-batch history folded
    # ts at/after the last folded commit -> whole range via batch_commits
    assert tt(marks[3]) == list(range(40))
    # ts inside the folded range -> per-batch dirs are gone -> EXPIRED
    with _pytest.raises(ValueError, match="EXPIRED"):
        sink.read(spark, as_of_timestamp=marks[1])


def test_neardup_gate_stream_semantics(spark, tmp_path_factory):
    """Streaming near-dup gate: first arrival in every band keeps,
    exact copies drop, unrelated docs keep, docs at/above the final
    watermark stay unemitted; MULTI-BATCH arrival order — a copy that
    arrives in a later batch drops even though its buckets were
    registered one batch earlier (first-ARRIVAL contract, like
    dropDuplicatesWithinWatermark)."""
    from datetime import datetime

    from datetime import timedelta

    from watermark_detector_spark.streaming.state import (
        near_dup_gate_stream,
        stateful_check_disabled,
    )

    T = lambda s: datetime(2024, 1, 1, 10, 0, 0) + timedelta(seconds=s)
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten eleven"
    batch0 = [(0, T(0), a), (9, T(9), b),
              (15, T(15), "totally different words entirely unlike anything else")]
    batch1 = [(5, T(5), a),          # copy of 0, later ARRIVAL: drops
              (12, T(12), b),        # copy of 9: drops
              (2000, T(2000), "watermark driver far in the future x")]
    root = tmp_path_factory.mktemp("ndg_test")
    src = root / "src"
    src.mkdir()
    for i, rs in enumerate([batch0, batch1]):
        pdf = pd.DataFrame(rs, columns=["doc_id", "ts", "text"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = (spark.readStream.schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(key, "true")
    with stateful_check_disabled(spark):
        gate = near_dup_gate_stream(stream, n_bands=4, n=3,
                                    watermark="1 minute")
        q = (gate.writeStream.outputMode("append").format("memory")
             .queryName("ndg_sem")
             .option("checkpointLocation", str(root / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    # the scoped disable restored the session's safety check
    assert spark.conf.get(key) == "true"
    out = {r["doc_id"]: (r["keep"], r["n_bands"])
           for r in spark.table("ndg_sem").collect()}
    assert out == {0: (True, 4), 9: (True, 4), 15: (True, 4),
                   5: (False, 4), 12: (False, 4)}  # 2000: above final wm


def test_neardup_gate_stream_ttl_forgets_buckets(spark, tmp_path_factory):
    """state_ttl_s: a bucket silent for the TTL of event time forgets
    its first arrival — a later copy then PASSES the gate (bounded
    state trade, opt-in); without the option the copy still drops."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import near_dup_gate_stream

    from datetime import timedelta

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    T = lambda s: datetime(2024, 1, 1, 10, 0, 0) + timedelta(seconds=s)
    batch0 = [(0, T(0), a)]
    batch1 = [(1, T(500), "advance watermark beyond ttl for bucket zero")]
    # timers only fire for buckets with NO data in the batch — this
    # extra watermark driver is the batch where bucket-0's TTL expires
    batch2 = [(2, T(560), "second watermark driver lets the timer fire")]
    batch3 = [(3, T(600), a),   # copy of 0, after bucket-0's TTL
              (4, T(2000), "final watermark driver far beyond everything")]

    def run(ttl, name):
        root = tmp_path_factory.mktemp(f"ndg_ttl_{name}")
        src = root / "src"
        src.mkdir()
        for i, rs in enumerate([batch0, batch1, batch2, batch3]):
            pdf = pd.DataFrame(rs, columns=["doc_id", "ts", "text"])
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            p = str(src / f"b{i}.parquet")
            pdf.to_parquet(p)
            os.utime(p, (1700000000 + i, 1700000000 + i))
        stream = (spark.readStream
                  .schema("doc_id long, ts timestamp, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        gate = near_dup_gate_stream(stream, n_bands=4, n=3,
                                    watermark="1 minute", state_ttl_s=ttl)
        q = (gate.writeStream.outputMode("append").format("memory")
             .queryName(f"ndg_ttl_{name}")
             .option("checkpointLocation", str(root / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["doc_id"]: r["keep"]
                for r in spark.table(f"ndg_ttl_{name}").collect()}

    with_ttl = run(120, "on")      # bucket 0 expires once wm > t0+120
    assert with_ttl[0] is True and with_ttl[3] is True, with_ttl
    without = run(None, "off")
    assert without[0] is True and without[3] is False, without


def test_kleene_match_stream_equals_batch(spark, tmp_path_factory):
    """kleene_match_stream == batch kleene_match over the finalized
    events — including a B+ run whose events FINALIZE IN DIFFERENT
    MICRO-BATCHES, proving the O(1) automaton carries run state across
    batches without retaining finalized events."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import kleene_match
    from watermark_detector_spark.streaming.state import kleene_match_stream

    T = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    batch0 = [
        (1, T(0), 1, "click"), (2, T(1), 1, "view"),
        (3, T(2), 1, "view"), (4, T(3), 1, "purchase"),
        (5, T(0), 4, "click"), (6, T(1), 4, "view"),
        (7, T(2), 4, "purchase"), (8, T(3), 4, "view"),
        (9, T(4), 4, "purchase"),
        # u6: run OPENS here (click + first view)...
        (10, T(0), 6, "click"), (11, T(1), 6, "view"),
        (30, T(10), 9, "error"),  # wm driver: finalizes u6's open run
    ]
    batch1 = [
        # ...and CLOSES here, after the opening events already
        # finalized (wm after batch0 = T(9); the continuation stays
        # above it so nothing is late)
        (12, T(9, 30), 6, "view"), (13, T(10, 30), 6, "purchase"),
        (31, T(58), 9, "error"), (32, T(59), 9, "error"),
    ]
    all_rows = batch0 + batch1
    df = spark.createDataFrame(
        all_rows,
        "event_id long, ts timestamp, user_id long, event_type string")
    want = sorted(
        (r["user_id"], r["t_first"], r["t_last"], r["n_mid"], r["first_id"])
        for r in kleene_match(
            df.where("ts < timestamp'2024-01-01 10:58:00'"),
            ["click", "purchase"], "view", "purchase",
            max_gap_s=3600).collect())
    assert (6, T(0), T(10, 30), 2, 10) in want  # the cross-batch run

    root = tmp_path_factory.mktemp("kleene_eq")
    src_dir = root / "src"
    src_dir.mkdir()
    for i, rs in enumerate([batch0, batch1]):
        pdf = pd.DataFrame(rs, columns=["event_id", "ts", "user_id",
                                        "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    sm = kleene_match_stream(stream, ["click", "purchase"], "view",
                             "purchase", max_gap_s=3600,
                             watermark="1 minute")
    q = (sm.writeStream.outputMode("append").format("memory")
         .queryName("kleene_eq_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["t_first"], r["t_last"], r["n_mid"], r["first_id"])
        for r in spark.table("kleene_eq_test").collect())
    assert got == want and len(got) >= 4


def test_zorder_key_interleaves_bits(spark):
    """Morton key ground truth at bits=2, two uniform 0..3 columns:
    bucket == value, z = interleave(x@even, y@odd) LSB-first."""
    from watermark_detector_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long")
    key = zorder_key(df, ["x", "y"], bits=2)
    got = {(r.x, r.y): r._zkey
           for r in df.select("x", "y", key).collect()}

    def morton(x, y):
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y)
                   for x in range(4) for y in range(4)}
    with pytest.raises(ValueError):
        zorder_key(df, ["x"] * 8, bits=8)  # > 63 key bits
    with pytest.raises(ValueError):
        zorder_key(df, [])


def test_compact_zorder_tightens_both_dims(spark, tmp_path_factory):
    """compact(zorder_cols=[x, y]): per-file spans must be tight on
    BOTH dimensions, where a plain x-sort leaves y-spans at ~full
    range — the property that makes multi-dim filter pruning work."""
    import pyarrow.parquet as pq

    def spans(data_dir, col, full):
        out = []
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(data_dir, f), columns=[col])
                vs = t.column(col).to_pylist()
                if vs:
                    out.append((max(vs) - min(vs)) / full)
        return out

    # a 64x64 grid: x and y genuinely independent (every y occurs for
    # every x, so an x-sort cannot cluster y); batches interleave rows
    rows = [(i, i % 64, i // 64) for i in range(4096)]
    full = 63.0

    z_root = str(tmp_path_factory.mktemp("sink_z") / "sink")
    zsink = ExactlyOnceParquetSink(z_root, output_partitions=16,
                                   vacuum_retention_s=0)
    s_root = str(tmp_path_factory.mktemp("sink_s") / "sink")
    ssink = ExactlyOnceParquetSink(s_root, output_partitions=16,
                                   vacuum_retention_s=0)
    for b in range(2):
        part = spark.createDataFrame(
            [r for r in rows if r[0] % 2 == b], "i long, x long, y long")
        zsink.write_batch(part, b)
        ssink.write_batch(part, b)

    zsink.compact(spark, zorder_cols=["x", "y"])
    ssink.compact(spark, sort_cols=["x"])
    zdir = os.path.join(z_root, "data", "compact_0-1")
    sdir = os.path.join(s_root, "data", "compact_0-1")

    zx, zy = spans(zdir, "x", full), spans(zdir, "y", full)
    sy = spans(sdir, "y", full)
    mean = lambda v: sum(v) / len(v)
    assert mean(sy) > 0.8          # x-sort leaves y unclustered
    assert mean(zx) < 0.5 and mean(zy) < 0.5   # zorder tight on BOTH
    # content and exactly-once unaffected by the layout rewrite
    assert zsink.read(spark).count() == 4096
    with pytest.raises(ValueError):
        zsink.compact(spark, sort_cols=["x"], zorder_cols=["y"])


def test_absence_alert_stream_semantics(spark, tmp_path_factory):
    """Streaming CEP NOT-pattern: a same-batch B suppresses, a
    RETAINED B (arriving before its out-of-order A) suppresses, a LATE
    B (below watermark on arrival) is dropped and cannot
    retro-suppress, absence finalizes via the event-time timeout, and
    an A whose deadline never drops below the final watermark is not
    emitted."""
    from datetime import datetime

    from watermark_detector_spark.streaming.state import absence_alert_stream

    T = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    root = tmp_path_factory.mktemp("absence_stream")
    src_dir = root / "src"
    src_dir.mkdir()
    batches = [
        # b1: u1 lone click; u2 click suppressed by same-batch purchase
        [(1, T(0, 0), 1, "click"), (2, T(0, 0), 2, "click"),
         (3, T(0, 30), 2, "purchase")],
        # b2: u3's purchase arrives BEFORE its click (wm -> 10:01)
        [(4, T(2, 0), 3, "purchase")],
        # b3: u3 click@10:01:30 out-of-order but NOT late (>= wm 10:01)
        # -> suppressed by the retained purchase@10:02; u4 pending
        # click; u1 purchase@10:00:20 is LATE (< wm) -> dropped, must
        # NOT retro-suppress u1's alert
        [(5, T(1, 30), 3, "click"), (6, T(5, 0), 4, "click"),
         (7, T(0, 20), 1, "purchase")],
        # b4: push the watermark to 10:29 -> u1 (deadline 10:01) and u4
        # (deadline 10:06) finalize as alerts via timeout; u5's own
        # deadline (10:31) stays above the final wm -> not emitted
        [(8, T(30, 0), 5, "click")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(src_dir / f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    al = absence_alert_stream(stream, "click", "purchase", within_s=60,
                              watermark="1 minute")
    q = (al.writeStream.outputMode("append").format("memory")
         .queryName("absence_stream_test")
         .option("checkpointLocation", str(root / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["a_ts"], r["a_id"])
           for r in spark.table("absence_stream_test").collect()}
    assert got == {(1, T(0, 0), 1), (4, T(5, 0), 6)}, got


def test_sink_read_changes_incremental(spark, tmp_path_factory):
    """read_changes (Iceberg incremental append-scan analog):
    non-overlapping windows partition the table exactly once, a replay
    does not duplicate the delta, a fully-enclosed compacted range
    serves the delta from its compact dir, a straddling vacuumed range
    raises EXPIRED, and empty/invalid windows raise."""
    import pytest as _pytest

    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    root = str(tmp_path_factory.mktemp("sink_changes"))
    sink = ExactlyOnceParquetSink(root, output_partitions=2,
                                  vacuum_retention_s=0)
    for b in range(5):
        sink.write_batch(
            spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v"), b)
    sink.write_batch(spark.range(999).withColumnRenamed("id", "v"), 1)  # replay: no-op

    def vals(df):
        return sorted(r["v"] for r in df.collect())

    # the CDC consumer contract: (since=1, hi=3] is batches 2..3
    assert vals(sink.read_changes(spark, 1, 3)) == list(range(20, 40))
    # default hi = latest committed
    assert vals(sink.read_changes(spark, 3)) == list(range(40, 50))
    # non-overlapping windows partition the full table
    assert (vals(sink.read_changes(spark, -1, 1))
            + vals(sink.read_changes(spark, 1, 4))
            == vals(sink.read(spark)))
    with _pytest.raises(ValueError, match="empty change window"):
        sink.read_changes(spark, 4, 4)
    with _pytest.raises(ValueError, match="empty change window"):
        sink.read_changes(spark, 7)

    # compaction: a window ENCLOSING the folded range reads the compact
    # dir (same rows); one STRADDLING the vacuumed range is EXPIRED
    sink.compact(spark, output_partitions=1)  # folds 0-4, retention 0
    assert vals(sink.read_changes(spark, -1, 4)) == list(range(50))
    with _pytest.raises(ValueError, match="EXPIRED"):
        sink.read_changes(spark, 1, 3)
    # post-compaction appends flow through incremental reads unchanged
    sink.write_batch(spark.range(50, 60).withColumnRenamed("id", "v"), 5)
    assert vals(sink.read_changes(spark, 4)) == list(range(50, 60))


def test_sink_schema_evolution_merge_read(spark, tmp_path_factory):
    """Additive schema evolution (Iceberg analog): batches written with
    a widened schema union with older batches on merge_schema reads —
    old rows surface NULL for the added column; a time-travel read at
    or below the pre-evolution batch keeps the original schema; the
    incremental read honors merge_schema too."""
    from watermark_detector_spark.streaming.sink import (
        ExactlyOnceParquetSink,
    )

    root = str(tmp_path_factory.mktemp("sink_evolve"))
    sink = ExactlyOnceParquetSink(root, output_partitions=1)
    old = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    sink.write_batch(old, 0)
    widened = spark.range(5, 8).select(
        F.col("id").alias("doc_id"), F.lit("de").alias("lang"),
        (F.col("id") * 0.5).alias("score"))
    sink.write_batch(widened, 1)

    merged = sink.read(spark, merge_schema=True)
    assert set(merged.columns) == {"doc_id", "lang", "score"}
    got = {r["doc_id"]: r["score"] for r in merged.collect()}
    assert len(got) == 8
    assert all(got[i] is None for i in range(5))      # old rows: NULL
    assert got[6] == 3.0                              # new rows: value

    # time-travel below the evolution point: original schema only
    as_of0 = sink.read(spark, as_of_batch=0, merge_schema=True)
    assert set(as_of0.columns) == {"doc_id", "lang"}

    # incremental read across the evolution boundary
    delta = sink.read_changes(spark, since_batch=0, merge_schema=True)
    assert set(delta.columns) == {"doc_id", "lang", "score"}
    assert delta.count() == 3
