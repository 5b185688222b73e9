"""The flagship pipeline: pages → extract → detect → filter(score>=0.5)
→ per-domain tumbling-window aggregation.

This is the engine's analog of the reference's inference + evaluation
loop (scan → predict → threshold → aggregate,
train_watermarks.py:317-330 + 302-305), declared once as a DataFrame
plan so the SAME code runs in batch and under Structured Streaming
(batch proves semantics with zero streaming risk; streaming adds the
watermark — SURVEY.md §7 steps 4-5).

Scale notes (100 TB posture):
- extract → detect → explode run FUSED in one ``mapInPandas`` pass
  (``detection_rows_fused``): one Arrow transit into Python per page,
  and the only Python in the plan; everything else is JVM/codegen.
- ``html`` never leaves that pass (column pruning: the binary payload
  never crosses a shuffle).
- the aggregation shuffles on (domain, window) — partial aggregation
  (map-side combine) happens automatically and absorbs head-domain
  skew; operators/skew.py holds the salted two-phase form for stateful
  streaming aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import SCORE_THRESHOLD, Signature, build_detector, detect_text
from ..functions.domains import registrable_domain
from ..functions.extract import extract_series


_DETECTION_ROWS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "sig_id long, category string, begin int, end int, score double"
)


def detection_rows_fused(pages: DataFrame, signatures: list[Signature],
                         from_html: bool = True) -> DataFrame:
    """extract → detect → explode, FUSED into one mapInPandas pass.

    One Python/Arrow transit per page instead of three plan nodes
    (Catalyst can duplicate chained-UDF evaluation under Generate — the
    fused operator guarantees exactly one extract+detect per page and
    emits detection rows directly). The score>=0.5 filter stays a
    query-level predicate. ``domain`` is derived afterwards by the
    codegen'd registrable_domain expression (cheap: runs on detection
    rows, not pages)."""
    detector = build_detector(signatures)
    by_id = {s.sig_id: s for s in signatures}

    def _proc(batches):
        import pandas as pd

        for pdf in batches:
            texts = extract_series(pdf["html"]) if from_html else pdf["text"]
            rows = []  # page position of each detection
            out = {k: [] for k in ("sig_id", "category", "begin", "end", "score")}
            for i, text in enumerate(texts):
                for sid, cat, b, e, s in detect_text(text, by_id, detector):
                    rows.append(i)
                    out["sig_id"].append(sid)
                    out["category"].append(cat)
                    out["begin"].append(b)
                    out["end"].append(e)
                    out["score"].append(s)
            page = pdf[["url", "warc_ts", "lang"]].take(rows).reset_index(drop=True)
            # explicit dtypes: a batch with ZERO detections must still
            # carry Arrow-castable columns (an untyped empty frame
            # defaults to float64 and kills the task — an all-negative
            # partition is routine at corpus scale)
            yield page.assign(
                warc_ts=page["warc_ts"].astype("datetime64[us]"),
                sig_id=pd.Series(out["sig_id"], dtype="int64"),
                category=pd.Series(out["category"], dtype="object"),
                begin=pd.Series(out["begin"], dtype="int32"),
                end=pd.Series(out["end"], dtype="int32"),
                score=pd.Series(out["score"], dtype="float64"),
            )

    cols = ["url", "warc_ts", "lang"] + (["html"] if from_html else ["text"])
    return (
        pages.select(*cols)  # prune BEFORE the Python transit
        .mapInPandas(_proc, schema=_DETECTION_ROWS_SCHEMA)
        .withColumn("domain", registrable_domain(F.col("url")))
    )


def kept_detections_fused(pages: DataFrame, signatures: list[Signature],
                          from_html: bool = True) -> DataFrame:
    return detection_rows_fused(pages, signatures, from_html).where(
        F.col("score") >= F.lit(SCORE_THRESHOLD)
    )


def window_agg(kept: DataFrame, window: str = "1 minute",
               slide: str | None = None, watermark: str | None = None) -> DataFrame:
    """Tumbling (or sliding) per-domain window aggregation — ONE
    definition for batch and streaming.

    With ``watermark`` set (streaming), state for a window is dropped
    once the event-time watermark passes its end; late rows beyond it
    are discarded — the engine's late-data-drop contract. The doc count
    switches with the mode: exact ``countDistinct`` in batch,
    ``approx_count_distinct`` (``n_docs_approx``) under a watermark —
    exact distinct per window is unsupported in streaming, and at 100 TB
    the approx sketch is the right hot-aggregate anyway (exact counts
    belong in a sink-side finalize when required)."""
    df = kept
    streaming = watermark is not None
    if streaming:
        df = df.withWatermark("warc_ts", watermark)
    win = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    doc_count = (
        F.approx_count_distinct("url").alias("n_docs_approx")
        if streaming
        else F.countDistinct("url").alias("n_docs")
    )
    return (
        df.groupBy(win.alias("window"), "domain")
        .agg(
            F.count(F.lit(1)).alias("n_detections"),
            F.avg("score").alias("avg_score"),
            F.sum(F.when(F.col("category") == "watermark", 1).otherwise(0)).alias("n_watermark"),
            F.sum(F.when(F.col("category") == "text", 1).otherwise(0)).alias("n_text"),
            doc_count,
        )
        .select(
            "domain",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_docs_approx" if streaming else "n_docs",
            "n_detections",
            "avg_score",
            "n_watermark",
            "n_text",
        )
    )


def flagship_batch(pages: DataFrame, signatures: list[Signature],
                   window: str = "1 minute", from_html: bool = True) -> DataFrame:
    return window_agg(
        kept_detections_fused(pages, signatures, from_html=from_html),
        window=window,
    )


def flagship_stream(pages_stream: DataFrame, signatures: list[Signature],
                    window: str = "1 minute", watermark: str = "10 minutes") -> DataFrame:
    """Same plan under readStream + event-time watermark (the shared
    window_agg switches the doc count to the streaming-supported
    approx sketch)."""
    return window_agg(
        kept_detections_fused(pages_stream, signatures),
        window=window,
        watermark=watermark,
    )
