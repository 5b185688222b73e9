#!/usr/bin/env python
"""COCO-style AP evaluation job (the COCOEvaluator analog,
train_watermarks.py:197, 303-305; README.md:60-143 publishes AP/AP50/
AP75 per class). Text spans replace boxes, span-overlap IoU replaces
bbox IoU; the metric shape matches the reference:

1. ONE-TO-ONE greedy matching per (url, sig_id) key at an IoU
   threshold — predictions sorted by score desc, each consumes at most
   one golden (the unmatched golden with the highest IoU >= τ), each
   golden matches at most one prediction. Repeated distant splices of
   the same signature yield several rows per key; the old full-outer
   join cross-producted those — greedy matching is the COCO rule.
2. AP = all-point interpolated area under the score-ranked
   precision/recall curve per category (precision envelope), computed
   with pure window expressions — no driver-side sweep.

Distribution: matching is an ``applyInPandas`` cogroup per (url,
sig_id) — groups are tiny (a handful of spans) and key cardinality is
the corpus, so it scales like any keyed shuffle. The PR sweep is one
window over predictions per category (predictions ≪ corpus).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

_MATCH_SCHEMA = "category string, score double, tp int, url string, begin int"


def _span_iou(pb: int, pe: int, gb: int, ge: int) -> float:
    inter = max(0, min(pe, ge) - max(pb, gb))
    union = (pe - pb) + (ge - gb) - inter
    return inter / union if union > 0 else 0.0


def _make_matcher(iou_threshold: float):
    def match(key, pred_pdf: pd.DataFrame, gold_pdf: pd.DataFrame) -> pd.DataFrame:
        """Greedy one-to-one matching inside one (url, sig_id) key."""
        out = []
        golds = list(zip(gold_pdf["begin"], gold_pdf["end"]))
        taken = [False] * len(golds)
        pred = pred_pdf.sort_values(["score", "begin"], ascending=[False, True])
        for _, p in pred.iterrows():
            best_j, best_iou = -1, 0.0
            for j, (gb, ge) in enumerate(golds):
                if taken[j]:
                    continue
                iou = _span_iou(p["begin"], p["end"], gb, ge)
                if iou >= iou_threshold and iou > best_iou:
                    best_j, best_iou = j, iou
            if best_j >= 0:
                taken[best_j] = True
            out.append({
                "category": p["category"], "score": float(p["score"]),
                "tp": int(best_j >= 0), "url": p["url"], "begin": int(p["begin"]),
            })
        return pd.DataFrame(out, columns=["category", "score", "tp", "url", "begin"])

    return match


def matched_predictions(predictions: DataFrame, golden: DataFrame,
                        iou_threshold: float = 0.5) -> DataFrame:
    """Label every prediction tp/fp under one-to-one greedy matching."""
    pred = predictions.select("url", "sig_id", "category", "begin", "end", "score")
    gold = golden
    if "below_threshold" in gold.columns:
        gold = gold.where(~F.col("below_threshold"))
    gold = gold.select("url", "sig_id", "begin", "end")
    return (
        pred.groupBy("url", "sig_id")
        .cogroup(gold.groupBy("url", "sig_id"))
        .applyInPandas(_make_matcher(iou_threshold), schema=_MATCH_SCHEMA)
    )


def _gold_counts(golden: DataFrame) -> DataFrame:
    gold = golden
    if "below_threshold" in gold.columns:
        gold = gold.where(~F.col("below_threshold"))
    return gold.groupBy("category").agg(F.count(F.lit(1)).alias("n_gold"))


def average_precision(matched: DataFrame, gold_counts: DataFrame) -> DataFrame:
    """All-point interpolated AP per category from tp/fp-labeled,
    score-ranked predictions — windows only, no collect."""
    # Tie-break by stable keys ONLY — never by tp: sorting TPs ahead of
    # FPs at equal scores would systematically inflate AP vs the COCO
    # stable score-sort (scores are quantized, ties are common).
    order = [F.desc("score"), F.asc("url"), F.asc("begin")]
    w_cum = W.partitionBy("category").orderBy(*order) \
        .rowsBetween(W.unboundedPreceding, 0)
    w_env = W.partitionBy("category").orderBy(*order) \
        .rowsBetween(0, W.unboundedFollowing)
    w_lag = W.partitionBy("category").orderBy(*order)
    ranked = (
        matched.join(gold_counts, "category")
        .withColumn("cum_tp", F.sum("tp").over(w_cum))
        .withColumn("cum_n", F.count(F.lit(1)).over(w_cum))
        .withColumn("precision", F.col("cum_tp") / F.col("cum_n"))
        .withColumn("recall", F.col("cum_tp") / F.col("n_gold"))
        # precision envelope: max precision at this recall or beyond
        .withColumn("p_env", F.max("precision").over(w_env))
        .withColumn("d_recall",
                    F.col("recall") - F.coalesce(F.lag("recall").over(w_lag), F.lit(0.0)))
    )
    return ranked.groupBy("category").agg(
        F.round(F.sum(F.col("d_recall") * F.col("p_env")), 4).alias("ap")
    )


def evaluate(predictions: DataFrame, golden: DataFrame,
             iou_threshold: float = 0.5) -> DataFrame:
    """Operating-point metrics under one-to-one matching at a single IoU:
    per-category tp / fp / fn / precision / recall / f1 / ap."""
    matched = matched_predictions(predictions, golden, iou_threshold).cache()
    gold_counts = _gold_counts(golden)
    try:
        counts = (
            matched.groupBy("category")
            .agg(F.sum("tp").alias("tp"), F.sum(1 - F.col("tp")).alias("fp"))
            .join(gold_counts, "category", "full_outer")
            .na.fill({"tp": 0, "fp": 0, "n_gold": 0})
            .withColumn("fn", F.col("n_gold") - F.col("tp"))
        )
        ap = average_precision(matched, gold_counts)
        result = (
            counts.join(ap, "category", "left")
            .na.fill({"ap": 0.0})
            .select(
                "category", "tp", "fp", "fn",
                F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 4)
                .alias("precision"),
                F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 4)
                .alias("recall"),
                F.round(2 * F.col("tp")
                        / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)), 4)
                .alias("f1"),
                "ap",
            )
        )
        # materialize the (tiny) result while the match cache is hot,
        # then release it — repeated evaluate() calls must not pin
        # executor storage for the session's lifetime
        return result.localCheckpoint(eager=True)
    finally:
        matched.unpersist()


def evaluate_ap(predictions: DataFrame, golden: DataFrame,
                iou_thresholds: Iterable[float] = (0.5, 0.75)) -> DataFrame:
    """The reference's headline metric shape: per-category AP at each
    IoU threshold (AP50, AP75, ...) plus their mean (the COCO 'AP'
    averages IoU=.5:.05:.95; pass that range for exact parity)."""
    gold_counts = _gold_counts(golden)
    result = None
    cols = []
    for tau in iou_thresholds:
        name = f"ap{int(round(tau * 100))}"
        cols.append(name)
        m = matched_predictions(predictions, golden, tau)
        ap = average_precision(m, gold_counts).withColumnRenamed("ap", name)
        result = ap if result is None else result.join(ap, "category", "full_outer")
    # a category with golden rows but ZERO predictions never reaches
    # average_precision (it only sees matched predictions) — without
    # this outer join it would VANISH from the report instead of scoring
    # ap=0, overstating the macro view (COCO scores missed classes as 0)
    result = gold_counts.select("category").join(result, "category", "full_outer")
    mean_expr = sum(F.coalesce(F.col(c), F.lit(0.0)) for c in cols) / len(cols)
    return result.select(
        "category",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in cols],
        F.round(mean_expr, 4).alias("ap_mean"),
    )


def main() -> None:  # pragma: no cover - CLI wrapper
    import argparse

    from watermark_detector_spark.functions.core import signatures_from_df
    from watermark_detector_spark.plans.flagship import kept_detections_fused
    from watermark_detector_spark.session import get_spark
    from watermark_detector_spark.sources.pages import read_pages_batch

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--signatures", required=True)
    ap.add_argument("--golden", required=True)
    args = ap.parse_args()

    spark = get_spark(app_name="wmd-eval-ap")
    sigs = signatures_from_df(spark.read.parquet(args.signatures))
    pred = kept_detections_fused(read_pages_batch(spark, args.pages), sigs)
    res = evaluate(pred, spark.read.parquet(args.golden))
    res.orderBy("category").show(truncate=False)


if __name__ == "__main__":
    main()
