"""Operator-level tests: skew-salted join equivalence, dedup family,
similarity search, windows, multimodal plumbing, eval job."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from watermark_detector_spark.functions.multimodal import (
    extract_features,
    fake_decode,
)
from watermark_detector_spark.functions.similarity import (
    brute_force_topk,
    cosine_pairs,
)
from watermark_detector_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
)
from watermark_detector_spark.plans.flagship import kept_detections_fused, window_agg
from watermark_detector_spark.sources.pages import read_pages_batch


@pytest.fixture(scope="module")
def kept(spark, fixture_cfg, fixture_paths):
    pages = read_pages_batch(spark, fixture_paths["pages"])
    return kept_detections_fused(pages, fixture_cfg.signatures).cache()


def test_fixture_domains_are_skewed(kept):
    """The Zipf skew the salting exists for: head domain carries >10%."""
    counts = kept.groupBy("domain").count().toPandas()
    assert counts["count"].max() / counts["count"].sum() > 0.10


def test_windows_consistency(kept):
    t = window_agg(kept, "1 minute").toPandas()
    s = window_agg(kept, "5 minutes", "1 minute").toPandas()
    assert t["n_detections"].sum() > 0
    # every detection lands in exactly 5 sliding windows (5min/1min)
    assert s["n_detections"].sum() == 5 * t["n_detections"].sum()


def test_lsh_candidates_superset_of_jaccard_dups(spark, fixture_paths):
    """Every high-Jaccard pair must be caught by some LSH band (banded
    minhash with 4 bands over identical shingle sets: a pair with
    jaccard=1.0 shares all minima; >=0.9 shares a band w.h.p. — the
    fixture near-dups are checked explicitly)."""
    docs = spark.read.parquet(fixture_paths["pages"]).select(
        F.col("url").alias("doc_id"), "text"
    )
    # build explicit near-dups: duplicate 20 docs with tiny suffix change
    dups = docs.limit(20).select(
        F.concat(F.col("doc_id"), F.lit("#copy")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    corpus = docs.limit(200).unionByName(dups)
    jp = jaccard_pairs(corpus, threshold=0.8, id_col="doc_id")
    lsh = minhash_lsh_candidates(corpus, n_bands=4, id_col="doc_id")
    jp_pairs = {(r.id_a, r.id_b) for r in jp.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert len(jp_pairs) >= 20  # the 20 injected copies
    missed = jp_pairs - lsh_pairs
    assert not missed, f"LSH missed {len(missed)} high-jaccard pairs"


def test_minhash_deterministic_across_partitioning(spark, fixture_paths):
    docs = spark.read.parquet(fixture_paths["pages"]).select(
        F.col("url").alias("doc_id"), "text"
    ).limit(100)
    a = minhash_signatures(docs.repartition(1)).toPandas().sort_values(
        ["doc_id", "band"]).reset_index(drop=True)
    b = minhash_signatures(docs.repartition(16)).toPandas().sort_values(
        ["doc_id", "band"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_simhash_near_dup_hamming(spark, fixture_paths):
    """A doc and its lightly-edited copy get near-identical simhash."""
    docs = spark.read.parquet(fixture_paths["pages"]).select(
        F.col("url").alias("doc_id"), "text"
    ).limit(10)
    edited = docs.select(
        F.concat(F.col("doc_id"), F.lit("#e")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
    )
    sh = simhash(docs.unionByName(edited)).toPandas()
    sh["base"] = sh["doc_id"].str.replace("#e", "", regex=False)
    for base, grp in sh.groupby("base"):
        if len(grp) == 2:
            a, b = grp["simhash"].tolist()
            ham = sum(x != y for x, y in zip(a, b))
            assert ham <= 4, (base, a, b)


def test_cosine_pairs_symmetric_bounds(spark):
    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cp = cosine_pairs(emb, threshold=0.45).toPandas()
    assert (cp["cosine"] <= 1.0).all() and (cp["cosine"] >= 0.45).all()
    assert (cp["id_a"] < cp["id_b"]).all()


def test_cosine_pairs_block_path_equivalence(spark):
    """The distributed block-pair GEMM must be result-identical to the
    pure-expression reference at every blocking factor (incl. forcing
    multiple blocks + off-diagonal block pairs)."""
    from watermark_detector_spark.functions.similarity import cosine_pairs_expr

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    key = ["id_a", "id_b"]
    ref = cosine_pairs_expr(emb, 0.45).toPandas().sort_values(key).reset_index(drop=True)
    assert len(ref) > 0
    for variant in [
        cosine_pairs(emb, 0.45),                      # single block
        cosine_pairs(emb, 0.45, rows_per_block=150),  # 4 blocks, off-diag pairs
    ]:
        got = variant.toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(ref, got, check_exact=False, atol=1e-9)


def test_near_dup_pairs_equals_jaccard_on_exact_dups(spark, fixture_paths):
    """near_dup_pairs (LSH→Jaccard-on-candidates) == full quadratic
    jaccard_pairs wherever LSH recall is 1 — guaranteed here by injecting
    exact near-copies (jaccard>=0.8 shares a band minimum w.h.p.)."""
    from watermark_detector_spark.operators.dedup import near_dup_pairs

    docs = spark.read.parquet(fixture_paths["pages"]).select(
        F.col("url").alias("doc_id"), "text"
    )
    dups = docs.limit(20).select(
        F.concat(F.col("doc_id"), F.lit("#copy")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    corpus = docs.limit(200).unionByName(dups)
    key = ["id_a", "id_b"]
    full = jaccard_pairs(corpus, threshold=0.8, id_col="doc_id").toPandas()
    fast = near_dup_pairs(corpus, threshold=0.8, id_col="doc_id").toPandas()
    assert len(full) >= 20
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        fast.sort_values(key).reset_index(drop=True),
        check_exact=False, atol=1e-9,
    )


def test_approx_percentile_close_to_exact(spark):
    """approx_percentile (the 100 TB telemetry path: mergeable sketch,
    single pass) stays within tolerance of the exact percentile."""
    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    both = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("exact"),
        F.approx_percentile("value", 0.5, 10000).alias("approx"),
    ).toPandas()
    spread = e.agg(F.max("value") - F.min("value")).first()[0]
    assert ((both["exact"] - both["approx"]).abs() / spread < 0.01).all()


def test_multimodal_feature_extraction(spark):
    rows = [("m1", "image", b"\x89PNG fake bytes", "image/png", None, None, None),
            ("m2", "audio", b"RIFF fake", "audio/wav", None, None, None),
            ("m3", "image", None, "image/png", None, None, None)]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, mime string, "
              "width int, height int, duration_ms long")
    out = extract_features(media).toPandas().set_index("media_id")
    assert out.loc["m1", "ok"] and len(out.loc["m1", "feature"]) == 8
    assert out.loc["m2", "ok"]
    assert not out.loc["m3", "ok"] and "ValueError" in out.loc["m3", "error"]
    # determinism
    again = extract_features(media).toPandas().set_index("media_id")
    assert list(out.loc["m1", "feature"]) == list(again.loc["m1", "feature"])


def test_eval_ap_perfect_on_goldens(spark, fixture_cfg, fixture_paths):
    """Detector predictions vs construction goldens: precision=recall=1
    per category (the detector IS exact on fixtures — the eval job is
    validated by recovering that)."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.eval_ap import evaluate

    pages = read_pages_batch(spark, fixture_paths["pages"])
    pred = kept_detections_fused(pages, fixture_cfg.signatures)
    golden = spark.read.parquet(fixture_paths["golden_detections"])
    res = evaluate(pred, golden).toPandas().set_index("category")
    for cat in ("watermark", "text"):
        assert res.loc[cat, "precision"] == 1.0, res
        assert res.loc[cat, "recall"] == 1.0, res
        assert res.loc[cat, "ap"] == 1.0, res


def _eval_frames(spark, pred_rows, gold_rows):
    pred = spark.createDataFrame(
        pred_rows, "url string, sig_id long, category string, "
                   "begin int, end int, score double")
    gold = spark.createDataFrame(
        gold_rows, "url string, sig_id long, category string, "
                   "begin int, end int, below_threshold boolean")
    return pred, gold


def test_eval_ap_hand_computed(spark):
    """AP on a known FP/FN mix, hand-computed:
    2 goldens; preds ranked by score = [TP(0.9), FP(0.8), TP(0.7)]
    → PR points (1.0, .5), (.5, .5), (.667, 1.0); all-point envelope
    AP = 0.5·1.0 + 0.5·(2/3) = 0.8333."""
    from jobs.eval_ap import evaluate

    pred, gold = _eval_frames(
        spark,
        [("u1", 0, "watermark", 10, 20, 0.9),   # exact hit on g1
         ("u2", 0, "watermark", 500, 510, 0.8),  # no golden → FP
         ("u3", 0, "watermark", 30, 40, 0.7)],   # exact hit on g2
        [("u1", 0, "watermark", 10, 20, False),
         ("u3", 0, "watermark", 30, 40, False)],
    )
    res = evaluate(pred, gold).toPandas().set_index("category")
    assert res.loc["watermark", "tp"] == 2
    assert res.loc["watermark", "fp"] == 1
    assert res.loc["watermark", "fn"] == 0
    assert res.loc["watermark", "ap"] == 0.8333, res


def test_eval_one_to_one_matching(spark):
    """Multiple preds on one golden within a key must NOT cross-product:
    exactly one TP, the rest FP (the COCO one-to-one rule); and a pred
    key with two goldens consumes each golden at most once."""
    from jobs.eval_ap import evaluate

    # 1 golden, 2 overlapping preds on the same (url, sig_id)
    pred, gold = _eval_frames(
        spark,
        [("u1", 0, "watermark", 10, 20, 0.9),
         ("u1", 0, "watermark", 11, 20, 0.8)],
        [("u1", 0, "watermark", 10, 20, False)],
    )
    res = evaluate(pred, gold).toPandas().set_index("category")
    assert res.loc["watermark", "tp"] == 1 and res.loc["watermark", "fp"] == 1
    assert res.loc["watermark", "fn"] == 0

    # 2 distant goldens same key, 2 preds: each matches its own golden
    pred, gold = _eval_frames(
        spark,
        [("u1", 0, "watermark", 10, 20, 0.9),
         ("u1", 0, "watermark", 100, 110, 0.8)],
        [("u1", 0, "watermark", 10, 20, False),
         ("u1", 0, "watermark", 100, 110, False)],
    )
    res = evaluate(pred, gold).toPandas().set_index("category")
    assert res.loc["watermark", "tp"] == 2 and res.loc["watermark", "fp"] == 0


def test_eval_ap_multi_iou(spark):
    """evaluate_ap reproduces the reference's AP50/AP75 metric shape; a
    sloppy-boundary pred (IoU≈0.6) counts at 0.5 but not at 0.75."""
    from jobs.eval_ap import evaluate_ap

    pred, gold = _eval_frames(
        spark,
        [("u1", 0, "watermark", 10, 22, 0.9)],   # IoU vs [10,20) = 10/12 ≈ .83
        [("u1", 0, "watermark", 10, 20, False)],
    )
    res = evaluate_ap(pred, gold, iou_thresholds=(0.5, 0.9)).toPandas()
    row = res.set_index("category").loc["watermark"]
    assert row["ap50"] == 1.0
    assert row["ap90"] == 0.0
    assert row["ap_mean"] == 0.5


def test_ivf_topk_recall(spark):
    """IVF ANN (deterministic spherical k-means coarse quantizer):
    recall is tunable via nprobe and hits the EXACT result at the
    nprobe == n_cells limit (every cell probed == brute force) — the
    invariant that pins the candidate plumbing as lossless."""
    from watermark_detector_spark.functions.similarity import ivf_topk

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    exact = brute_force_topk(emb, k=3, n_queries=None).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}

    def recall(n_cells, nprobe):
        a = ivf_topk(emb, dim=64, k=3, n_cells=n_cells, nprobe=nprobe).toPandas()
        aa = {(r.query_id, r.neighbor_id) for r in a.itertuples()}
        return len(e & aa) / len(e)

    r3, r5, r_all = recall(8, 3), recall(8, 5), recall(8, 8)
    assert r_all == 1.0, r_all          # exactness limit
    assert r3 >= 0.5, r3                # useful operating point
    assert r3 < r5 <= r_all             # recall monotone in nprobe


def test_ivfpq_topk_exact_mode_and_recall(spark):
    """IVF-PQ: (a) at nprobe == n_cells with rerank=None the output is
    EXACT (equals brute force, jaccard of the whole result set = 1) —
    the lossless-plumbing invariant the contract query pins; (b) at a
    small rerank depth the exact-rerank-over-ADC path still recovers
    nearly all true neighbors — and at least matches plain IVF at the
    same probe budget (PQ orders candidates, rerank rescored exactly);
    (c) codes really are tinyint-sized (the N·(12+m)-byte memory model
    is real, not a docstring claim)."""
    from watermark_detector_spark.functions.similarity import (
        ivf_topk,
        ivfpq_topk,
        pq_encode,
        pq_train,
        ivf_centroids,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    exact = brute_force_topk(emb, k=3, n_queries=None).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}

    full = ivfpq_topk(emb, dim=64, k=3, n_cells=8, nprobe=8, m=8,
                      ksub=16, rerank=None).toPandas()
    f = {(r.query_id, r.neighbor_id) for r in full.itertuples()}
    assert f == e  # exactness limit

    # same probe budget, rerank=None (every probed candidate re-scored
    # exactly): IVF-PQ and plain IVF see the same candidate set and
    # score it with the same expression — result sets are IDENTICAL,
    # pinning that the codes path loses nothing beyond the ADC cut
    ivf = ivf_topk(emb, dim=64, k=3, n_cells=8, nprobe=3).toPandas()
    i = {(r.query_id, r.neighbor_id) for r in ivf.itertuples()}
    deep = ivfpq_topk(emb, dim=64, k=3, n_cells=8, nprobe=3, m=8,
                      ksub=16, rerank=None).toPandas()
    d = {(r.query_id, r.neighbor_id) for r in deep.itertuples()}
    assert d == i
    # shallow ADC cut: bounded by the probed-cells ceiling, still useful
    pq = ivfpq_topk(emb, dim=64, k=3, n_cells=8, nprobe=3, m=8,
                    ksub=16, rerank=32).toPandas()
    p = {(r.query_id, r.neighbor_id) for r in pq.itertuples()}
    r_pq, r_ivf = len(e & p) / len(e), len(e & i) / len(e)
    assert 0.4 <= r_pq <= r_ivf, (r_pq, r_ivf)

    cents = ivf_centroids(emb, dim=64, n_cells=8, n_iters=3)
    books = pq_train(emb, dim=64, cents=cents, m=8, ksub=16)
    enc = pq_encode(emb, cents, books)
    field = {x.name: x.dataType.simpleString() for x in enc.schema.fields}
    assert field["codes"] == "array<tinyint>"
    row = enc.orderBy("vec_id").first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])

    import pytest as _pt
    with _pt.raises(ValueError, match="divisible"):
        pq_train(emb, dim=64, cents=cents, m=7)
    with _pt.raises(ValueError, match="ksub"):
        pq_train(emb, dim=64, cents=cents, m=8, ksub=256)


def test_ann_index_persisted_build_ingest_search(spark, tmp_path):
    """AnnIndex: model + codes persist to sink tables; a batch encoded
    with the FROZEN model becomes searchable; exact mode over
    corpus ∪ batch equals brute force; build/ingest replays are
    ledger no-ops; approximate probe still finds most true neighbors."""
    from watermark_detector_spark.functions.similarity import AnnIndex

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)

    idx = AnnIndex(str(tmp_path / "ann"), dim=64, n_cells=8, m=8,
                   ksub=16)
    idx.build(corpus)
    idx.build(corpus)  # replay: no-op
    assert idx.codes_sink.committed_batches() == [0]
    # model round-trips exactly through the sink table
    import numpy as np
    cents, books = idx._model(spark)
    assert cents.shape == (8, 64) and books.shape == (8, 16, 8)
    assert np.isfinite(cents).all() and np.isfinite(books).all()

    idx.ingest(batch)
    assert idx.codes_sink.committed_batches() == [0, 1]
    assert idx.codes_sink.read(spark).count() == emb.count()

    queries = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, k=3, n_queries=10).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    got = idx.topk(queries, emb, k=3, nprobe=8, rerank=None).toPandas()
    g = {(r.query_id, r.neighbor_id) for r in got.itertuples()}
    assert g == e  # exact over corpus ∪ ingested batch
    # ingested vectors really are searchable (some neighbor % 4 == 0)
    assert any(n % 4 == 0 for _, n in g)
    # approximate operating point: disk codes + shallow rerank
    approx = idx.topk(queries, emb, k=3, nprobe=3, rerank=16).toPandas()
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    assert len(e & a) / len(e) >= 0.3


def test_multimodal_frame_sample(spark):
    """Frame sampling (row expander) plumbing: fan-out counts,
    null-payload error capture."""
    from watermark_detector_spark.functions.multimodal import sample_frames

    media = spark.createDataFrame(
        [("v1", "video", b"VID1", "video/mp4", None, None, 3500),
         ("v2", "video", b"VID2", "video/mp4", None, None, None),   # no duration
         ("v3", "video", None, "video/mp4", None, None, 2000)],     # null payload
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long")

    frames = sample_frames(media, every_ms=1000).toPandas()
    per = frames.groupby("media_id").size().to_dict()
    assert per == {"v1": 3, "v2": 1, "v3": 2}  # 3500//1000, default 1, 2000//1000
    v1 = frames[frames.media_id == "v1"].sort_values("frame_idx")
    assert list(v1["frame_ts_ms"]) == [0, 1000, 2000]
    assert v1["ok"].all() and v1["frame_fp"].nunique() == 3
    assert not frames[frames.media_id == "v3"]["ok"].any()


def test_salted_join_equals_plain(spark, kept, fixture_paths):
    """Salted k-way join must be row-identical to the plain equi-join
    (skew handling changes the plan, never the answer)."""
    from watermark_detector_spark.operators.skew import salted_join

    sigs = spark.read.parquet(fixture_paths["signatures"]).select("sig_id", "weight")
    plain = kept.join(sigs, "sig_id").select("url", "sig_id", "begin", "weight")
    salted = salted_join(kept, sigs, on="sig_id", k=8,
                         big_salt_col="url").select("url", "sig_id", "begin", "weight")
    key = ["url", "sig_id", "begin"]
    a = plain.toPandas().sort_values(key).reset_index(drop=True)
    b = salted.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=False, atol=1e-12)


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee (MOSS): two docs sharing a run of
    >= window + n - 1 tokens share at least one fingerprint, and local
    edits outside the run don't destroy it (unlike a whole-doc hash)."""
    from watermark_detector_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= 4+3-1
    docs = spark.createDataFrame(
        [(1, f"intro words here {shared} tail one"),
         (2, f"completely different opening {shared} other ending text"),
         (3, "no overlap at all with anything else whatsoever here")],
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, n=3, window=4).toPandas()
    sets = {d: set(g["fp"]) for d, g in fp.groupby("doc_id")}
    assert sets[1] & sets[2], "shared run must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_winnow_short_doc_gets_truncated_fingerprint(spark):
    """A doc with fewer than `window` shingles must still emit ONE
    fingerprint (min hash of its truncated window) — short documents
    stay visible to fingerprint dedup instead of vanishing."""
    import hashlib

    from watermark_detector_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),      # 2 shingles < window=4
         (2, "alpha beta"),                  # < n tokens: no shingles at all
         (3, "alpha beta gamma")],           # exactly 1 shingle
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, n=3, window=4).toPandas()
    by_doc = {d: sorted(g["fp"]) for d, g in fp.groupby("doc_id")}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert by_doc[1] == [min(h("alpha beta gamma"), h("beta gamma delta"))]
    assert 2 not in by_doc  # sub-n docs have no shingles, hence no fp
    assert by_doc[3] == [h("alpha beta gamma")]


def test_eval_ap_missed_category_scores_zero(spark):
    """A category with golden rows but ZERO predictions must appear in
    the evaluate_ap report with ap=0 (not vanish): a fully-missed class
    silently dropping out would overstate the detector's macro AP."""
    from jobs.eval_ap import evaluate_ap

    pred, gold = _eval_frames(
        spark,
        [("u1", 0, "watermark", 10, 20, 0.9)],
        [("u1", 0, "watermark", 10, 20, False),
         ("u2", 1, "text", 30, 40, False)],      # no prediction ever
    )
    res = evaluate_ap(pred, gold, iou_thresholds=(0.5, 0.75)).toPandas()
    res = res.set_index("category")
    assert "text" in res.index, "missed category must not vanish"
    assert res.loc["text", "ap50"] == 0.0
    assert res.loc["text", "ap75"] == 0.0
    assert res.loc["text", "ap_mean"] == 0.0
    assert res.loc["watermark", "ap50"] == 1.0


def test_chunk_udtf_rejects_nonpositive_step(spark):
    """step <= 0 (reachable straight from SQL) must raise, not hang the
    executor task in an infinite while-loop."""
    import pytest as _pytest

    from watermark_detector_spark.functions.text import ChunkText

    spark.udtf.register("wmd_chunk_text_guard", ChunkText)
    with _pytest.raises(Exception, match="step must be >= 1"):
        spark.sql(
            "SELECT * FROM wmd_chunk_text_guard('some text here', 32, 0)"
        ).collect()
    with _pytest.raises(Exception, match="chunk_tokens must be >= 1"):
        spark.sql(
            "SELECT * FROM wmd_chunk_text_guard('some text here', 0, 8)"
        ).collect()


def test_dedup_queries_leave_no_cached_storage(spark):
    """jaccard_pairs/near_dup_pairs must not pin executor storage across
    calls (round-2 leak: a .cache() whose DataFrame is returned lazily
    can never be unpersisted by the operator)."""
    from watermark_detector_spark.operators.dedup import (
        jaccard_pairs,
        near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta common tail here")
         for i in range(30)],
        "doc_id long, text string")

    def persistent_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # delta-based: the shared test session may hold localCheckpoint RDDs
    # from earlier tests (released by GC, not by unpersist) — the claim:
    # jaccard_pairs pins NOTHING (a persist of its exploded sized-
    # shingle table was measured WORSE in r8 — see the operator
    # docstring); near_dup_pairs pins exactly its
    # candidate localCheckpoint (tiny, by design — the q45 plan pin)
    # for the LIFETIME OF THE RETURNED DATAFRAME, and the ContextCleaner
    # releases it once the result is garbage-collected — never a
    # permanent .cache() leak.
    import gc
    import time as _time

    before = persistent_ids()
    jaccard_pairs(docs, threshold=0.3).collect()
    assert persistent_ids() == before, "jaccard_pairs pinned storage"
    nd = near_dup_pairs(docs, threshold=0.3)
    nd.collect()
    held = persistent_ids() - before
    # self-dedup pins cand + the shared sized-shingle table + the LSH
    # signature table (r8: persisted so the banded self-join does not
    # shingle the corpus twice), nothing else — all finalizer-released
    assert len(held) <= 3, f"near_dup_pairs pinned more than cand+sz+sig: {held}"
    del nd
    gc.collect()
    deadline = _time.time() + 30
    while persistent_ids() - before and _time.time() < deadline:
        spark.sparkContext._jvm.System.gc()
        _time.sleep(0.5)
    leaked = persistent_ids() - before
    assert not leaked, f"dedup operators leaked persistent RDDs: {leaked}"

    # the RENAMED path (incremental_near_dups): the dup_of rename must
    # happen INSIDE _jaccard_confirm, before the finalizer attaches — a
    # caller-side withColumnRenamed would drop the only reference and
    # unpersist the candidate cache before any action ran (regression:
    # round-7 review)
    from watermark_detector_spark.operators.dedup import (
        incremental_near_dups,
    )

    inc = incremental_near_dups(
        docs.where("doc_id >= 15"), docs.where("doc_id < 15"),
        threshold=0.3)
    gc.collect()
    held = persistent_ids() - before
    assert len(held) == 1, (
        "cand cache must stay pinned while the returned frame is "
        f"referenced, got {held}")
    inc.collect()
    del inc
    gc.collect()
    deadline = _time.time() + 30
    while persistent_ids() - before and _time.time() < deadline:
        spark.sparkContext._jvm.System.gc()
        _time.sleep(0.5)
    leaked = persistent_ids() - before
    assert not leaked, f"incremental_near_dups leaked: {leaked}"


def test_dedup_clusters_connected_components(spark):
    """Transitive closure over pairs: chains, cycles, and isolated pairs
    resolve to min-id components; pointer jumping converges on a chain
    far longer than the round budget would allow without doubling."""
    from watermark_detector_spark.operators.dedup import (
        dedup_clusters,
        dedup_keepers,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),          # chain
             (10, 11),                                 # isolated pair
             (20, 21), (21, 22), (20, 22),             # triangle
             (30, 31), (31, 32), (30, 32), (32, 33)]   # triangle + tail
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["node"]: r["cluster_id"]
           for r in dedup_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20,
                   30: 30, 31: 30, 32: 30, 33: 30}

    # 64-node chain: plain min-label propagation needs 63 rounds; the
    # pointer-jumping variant must converge inside the 25-round budget
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 164)], "id_a long, id_b long")
    cl = dedup_clusters(chain).collect()
    assert all(r["cluster_id"] == 100 for r in cl) and len(cl) == 65

    keep = {r["node"]: (r["keeper_id"], r["is_duplicate"])
            for r in dedup_keepers(df).collect()}
    assert keep[1] == (1, False) and keep[5] == (1, True)
    assert keep[10] == (10, False) and keep[11] == (10, True)

    # empty pair set -> empty clustering (no crash)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty).count() == 0


def test_dedup_clusters_driver_path_equals_distributed(spark):
    """The small-graph union-find fast path (r8 optimization) must be
    byte-identical to the distributed pointer-jumping path on the same
    pair set — chains, triangles, merged components, shuffled edge
    order — and the probe threshold boundary must route correctly."""
    import random

    from watermark_detector_spark.operators.dedup import dedup_clusters

    rnd = random.Random(7)
    pairs = [(i, i + 1) for i in range(0, 50)]            # one long chain
    pairs += [(100 + rnd.randrange(40), 100 + rnd.randrange(40))
              for _ in range(60)]                          # random clumps
    pairs = [(a, b) for a, b in pairs if a != b]
    rnd.shuffle(pairs)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    fast = sorted(map(tuple, dedup_clusters(df).collect()))
    dist = sorted(map(tuple,
                      dedup_clusters(df, driver_max_edges=0).collect()))
    assert fast == dist and len(fast) > 0
    # a graph LARGER than the probe cap must take the distributed path
    # and still agree
    over = sorted(map(tuple,
                      dedup_clusters(df, driver_max_edges=5).collect()))
    assert over == fast


def test_curate_job_funnel(spark):
    """End-to-end curation composition (jobs/curate.curate): gates drop
    what they must, exact dups collapse to min-id keepers, near-dup
    clusters keep exactly one member, clean docs survive untouched."""
    from jobs.curate import curate

    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox runs through the green field near the old barn "
            "while the farmer watches the sky and the clouds drift")
    rows = [
        (1, good, "src0"),                                  # keeper
        (2, good, "src0"),                                  # exact dup of 1
        (3, good + " slightly changed tail here", "src1"),  # near dup of 1
        (4, "el perro corre por el campo verde y el sol " * 4, "src1"),  # not en
        (5, "too short", "src2"),                           # token gate
        (6, ("the river flows past the village where the miller grinds "
             "the corn and the children play by the water under the "
             "bridge while the birds sing in the trees all day"), "src2"),  # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    curated, stats = curate(spark, docs, jaccard=0.5)
    kept = sorted(r["doc_id"] for r in curated.collect())
    assert kept == [1, 6], (kept, stats)
    assert stats["input"] == 6
    assert stats["after_gate"] == 4          # 4 (lang) and 5 (tokens) dropped
    assert stats["after_exact_dedup"] == 3   # 2 collapsed into 1
    assert stats["after_near_dedup"] == 2    # 3 clustered with 1, dropped
    assert stats["dropped_total"] == 4


def test_gopher_quality_hand_computed(spark):
    """Gopher/C4 repetition rules against hand-computed values: a doc
    with a repeated line trips dup-line and top-2-gram rules; a doc of
    distinct words passes every gate."""
    from watermark_detector_spark.functions.text import gopher_quality

    docs = spark.createDataFrame(
        [(1, "aaa bbb\naaa bbb\nccc ddd"),
         (2, "one two three four five six seven eight nine ten eleven twelve")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in gopher_quality(docs).collect()}
    a = out[1]
    # lines: [aaa bbb, aaa bbb, ccc ddd] -> 1 of 3 repeated, 7 of 21 chars
    assert a["dup_line_frac"] == round(1 / 3, 4)
    assert a["dup_line_char_frac"] == round(7 / 21, 4)
    # 2-grams (5 incl. across the line breaks): 'aaa bbb' x2 -> 2/5
    assert a["top2_frac"] == 0.4 and a["dup2_frac"] == 0.4
    # 3-grams all distinct -> top 1/4, dup 0
    assert a["top3_frac"] == 0.25 and a["dup3_frac"] == 0.0
    assert a["mean_word_len"] == 3.0 and a["symbol_ratio"] == 0.0
    assert not a["keep"]  # dup_line 0.3333 > 0.30 and top2 0.4 > 0.20
    b = out[2]
    assert b["dup_line_frac"] == 0.0 and b["dup5_frac"] == 0.0
    assert b["top2_frac"] == round(1 / 11, 4)
    assert b["keep"]


def test_gopher_symbol_ratio(spark):
    """Symbol-to-word ratio counts '#' and non-overlapping '...'."""
    from watermark_detector_spark.functions.text import gopher_quality

    docs = spark.createDataFrame(
        [(1, "read more ... click here ... ## menu ## footer")],
        "doc_id long, text string")
    row = gopher_quality(docs).collect()[0]
    # 4 hashes + 2 ellipses over 10 whitespace tokens
    assert row["symbol_ratio"] == round(6 / 10, 4)
    assert not row["keep"]


def test_sequence_match_strict_contiguity(spark):
    """k-step CEP PATTERN(S1..Sk): only CONSECUTIVE per-key events
    match, any interleaved event breaks the window, every consecutive
    gap is checked, overlapping matches all emit."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import sequence_match

    T = lambda m: datetime(2024, 1, 1, 10, m, 0)
    rows = [
        (1, T(0), 1, "view"), (2, T(1), 1, "click"), (3, T(2), 1, "purchase"),
        # u2: 'error' between click and purchase breaks contiguity
        (4, T(0), 2, "view"), (5, T(1), 2, "click"),
        (6, T(2), 2, "error"), (7, T(3), 2, "purchase"),
        # u3: second gap exceeds the limit
        (8, T(0), 3, "view"), (9, T(1), 3, "click"), (10, T(50), 3, "purchase"),
        # u4: two back-to-back full sequences -> two matches
        (11, T(0), 4, "view"), (12, T(1), 4, "click"), (13, T(2), 4, "purchase"),
        (14, T(3), 4, "view"), (15, T(4), 4, "click"), (16, T(5), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = sorted(
        (r["user_id"], r["t_first"], r["t_last"], r["first_id"])
        for r in sequence_match(df, ["view", "click", "purchase"],
                                max_gap_s=600).collect())
    assert got == [(1, T(0), T(2), 1), (4, T(0), T(2), 11),
                   (4, T(3), T(5), 14)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sequence_match(df, ["view"], max_gap_s=600)


def test_gopher_gates_hand_computed(spark):
    """Document-level Gopher gates against hand-computed values: word
    bounds, alpha fraction, stop-word minimum, bullet/ellipsis line
    ratios each trip independently."""
    from watermark_detector_spark.functions.text import gopher_gates

    good = ("the quick brown fox jumps over the lazy dog and then it "
            "sat down to rest with a satisfied look on its small face "
            "while the farmer watched from the gate and thought that "
            "harvest would have to wait for the rain to pass this time")
    docs = spark.createDataFrame(
        [(1, good),                               # passes every gate
         (2, "too short to keep"),                 # < min_words
         (3, "11 22 33 44 " * 13 + "the end"),     # alpha frac low
         (4, ("word " * 60).strip()),              # zero stopwords
         (5, "• one two three\n• four five six\n• and seven the eight"),
         (6, "the first line goes on...\nand the second one too...")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in gopher_gates(docs, min_words=20).collect()}
    assert out[1]["keep"] and out[1]["alpha_word_frac"] == 1.0
    assert out[1]["stopword_cnt"] >= 2
    assert not out[2]["keep"] and out[2]["n_words"] == 4
    assert not out[3]["keep"]
    assert out[3]["alpha_word_frac"] == round(2 / 54, 4)
    assert not out[4]["keep"] and out[4]["stopword_cnt"] == 0
    assert out[5]["bullet_line_frac"] == 1.0 and not out[5]["keep"]
    assert out[6]["ellipsis_line_frac"] == 1.0 and not out[6]["keep"]


def test_line_delim_is_literal(spark):
    """line_delim is a LITERAL separator everywhere (curate exposes it
    as user input): a regex-metachar delimiter like '|' must split on
    the character itself, not shred the text per-character, and
    c4_clean must round-trip split/re-join symmetrically."""
    from watermark_detector_spark.functions.text import c4_clean, lines_col

    docs = spark.createDataFrame(
        [(1, "the first proper segment here.|second decent segment "
             "follows now.|third one closes it out properly.")],
        "doc_id long, text string")
    row = docs.select(lines_col(F.col("text"), "|").alias("l")).collect()[0]
    assert len(row["l"]) == 3, row["l"]
    out = c4_clean(docs, line_delim="|", min_lines_kept=3).collect()[0]
    assert out["n_lines"] == 3 and out["n_lines_kept"] == 3
    assert out["keep"] and out["clean_text"].count("|") == 2


def test_c4_clean_line_rules(spark):
    """C4 line cleaning: terminal-punctuation requirement, min words
    per line, banned line word, banned doc phrase, min surviving
    lines — each rule verified on a constructed doc."""
    from watermark_detector_spark.functions.text import c4_clean

    text = ("This sentence survives the cleaning pass intact.\n"
            "no terminal punctuation here\n"
            "Too short.\n"
            "Please enable javascript to view this page.\n"
            "Another keeper line ends with a question mark?\n"
            "A third proper sentence closes the document!")
    docs = spark.createDataFrame(
        [(1, text),
         (2, "Lorem ipsum dolor sit amet as boilerplate filler text.\n"
             "A perfectly fine second sentence follows it here.\n"
             "And a third one to clear the line minimum easily.\n"
             "Plus a fourth for good measure today.")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in c4_clean(docs, min_lines_kept=3).collect()}
    a = out[1]
    assert a["n_lines"] == 6 and a["n_lines_kept"] == 3
    assert a["clean_text"].splitlines() == [
        "This sentence survives the cleaning pass intact.",
        "Another keeper line ends with a question mark?",
        "A third proper sentence closes the document!",
    ]
    assert a["keep"]
    b = out[2]   # line rules pass but the doc phrase gate kills it
    assert b["n_lines_kept"] == 4 and not b["keep"]


def test_warcish_source_roundtrip(spark, tmp_path_factory):
    """Custom DataSource: write -> read round trip is byte/value exact
    (url, timestamp micros, lang, payload incl. empty + non-ascii),
    overwrite clears stale parts, filter pushdown prunes rows, and a
    corrupt container fails loudly."""
    from datetime import datetime

    import pytest as _pytest

    from watermark_detector_spark.sources.warcish import WarcishDataSource

    spark.dataSource.register(WarcishDataSource)
    root = str(tmp_path_factory.mktemp("warcish"))
    df = spark.createDataFrame(
        [("https://a.com/1", datetime(2025, 1, 1, 10, 0, 0, 123456), "en",
          bytearray(b"<p>hello</p>")),
         ("https://b.com/2", datetime(2025, 1, 1, 11, 0, 0), "de",
          bytearray("<div>wält</div>".encode())),
         ("https://c.com/3", datetime(2025, 1, 1, 12, 0, 0), "en",
          bytearray(b"")),
         # adversarial: this exact microsecond value truncates 1us
         # under the float path int(ts.timestamp() * 1e6) — the writer
         # must use integer arithmetic for the round trip to be exact
         ("https://d.com/4", datetime(2005, 4, 17, 8, 29, 2, 646319),
          "en", bytearray(b"<p>us</p>"))],
        "url string, warc_ts timestamp, lang string, html binary")
    df.repartition(2).write.format("warcish").mode("overwrite").save(root)
    back = spark.read.format("warcish").load(root)
    got = {r["url"]: (r["warc_ts"], r["lang"], bytes(r["html"]))
           for r in back.collect()}
    want = {r["url"]: (r["warc_ts"], r["lang"], bytes(r["html"]))
            for r in df.collect()}
    assert got == want                      # incl. microsecond precision
    # pushed equality filter on metadata drops records in the reader
    assert back.where("lang = 'en'").count() == 3
    assert back.where("url = 'https://b.com/2'").count() == 1
    # overwrite clears stale parts (previous write had 2 partitions)
    df.limit(1).repartition(1).write.format("warcish") \
        .mode("overwrite").save(root)
    assert spark.read.format("warcish").load(root).count() == 1
    # corrupt container -> loud error, not silent skip
    with open(f"{root}/part-bad.warcish", "wb") as fh:
        fh.write(b"NOT A RECORD\n")
    with _pytest.raises(Exception, match="magic|WARCISH|corrupt"):
        spark.read.format("warcish").load(root).count()


def test_url_filter_rules(spark):
    """URL hygiene gate: each rule (blocked host prefix, banned token,
    depth cap, param-farm cap, length cap, unparseable) fires
    independently; clean URLs keep."""
    from watermark_detector_spark.functions.domains import (
        url_host,
        url_keep,
        url_n_params,
        url_path_depth,
    )

    rows = [
        (1, "https://www.example.com/a/b/page?q=1"),
        (2, "https://ads.example.com/page"),
        (3, "https://www.example.com/visit/the/casino/page"),
        (4, "https://www.example.com/a/b/c/d/e/f/g/page"),
        (5, "https://www.example.com/p?a=1&b=2&c=3&d=4&e=5"),
        (6, "not a url at all"),
        (7, "https://www.example.com/" + "x" * 600),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id",
        url_host(F.col("url")).alias("host"),
        url_path_depth(F.col("url")).alias("depth"),
        url_n_params(F.col("url")).alias("np"),
        url_keep(F.col("url")).alias("keep"),
    ).collect()}
    assert out[1]["keep"] and out[1]["host"] == "www.example.com"
    assert out[1]["depth"] == 3 and out[1]["np"] == 1
    assert not out[2]["keep"]                    # ads. prefix
    assert not out[3]["keep"]                    # banned token
    assert not out[4]["keep"] and out[4]["depth"] == 8
    assert not out[5]["keep"] and out[5]["np"] == 5
    assert not out[6]["keep"] and out[6]["host"] == ""
    assert not out[7]["keep"]                    # length cap


def test_pii_scrub_patterns(spark):
    """PII scrub: each pattern replaces with its typed token, counts
    come from the original text, clean docs untouched, and '<SSN>'
    never re-matches as a phone (ordering contract)."""
    from watermark_detector_spark.functions.pii import scrub_pii

    docs = spark.createDataFrame(
        [(1, "mail a.b-c_d@sub.example.org or x@y.io now"),
         (2, "ssn 123-45-6789 phone 555-867-5309 alt 555.867.5309"),
         (3, "host 192.168.0.1 and 10.0.0.7 up"),
         (4, "version 1.2.3 costs 12-34 dollars at 5.6 percent")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in scrub_pii(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> or <EMAIL> now"
    assert out[1]["n_email"] == 2 and out[1]["has_pii"]
    assert out[2]["clean_text"] == "ssn <SSN> phone <PHONE> alt <PHONE>"
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 2
    assert out[3]["clean_text"] == "host <IP> and <IP> up"
    assert out[3]["n_ipv4"] == 2
    # near-misses: short version strings / partial digit groups stay
    assert out[4]["clean_text"] == docs.collect()[3]["text"]
    assert not out[4]["has_pii"]


def test_decontaminate_flags_shared_runs(spark):
    """Decontamination: a training doc sharing a >= window+n-1 token run
    with the holdout is flagged (winnowing guarantee); disjoint docs
    are not."""
    from watermark_detector_spark.operators.dedup import contaminated_ids

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= 4+3-1
    train = spark.createDataFrame(
        [(1, f"intro words here {shared} tail one"),
         (2, "no overlap at all with anything else whatsoever here")],
        "doc_id long, text string")
    holdout = spark.createDataFrame(
        [(100, f"an eval question mentioning {shared} verbatim")],
        "doc_id long, text string")
    flagged = contaminated_ids(train, holdout).toPandas()
    assert flagged["doc_id"].tolist() == [1]
    assert (flagged["n_shared_fps"] >= 1).all()


def test_curate_new_stages(spark):
    """curate() round-5 stages compose: C4 line cleaning rewrites text
    and drops thin docs, PII is redacted in place (and counted), the
    document-level Gopher gates drop bullet-heavy docs — and the funnel
    stats stay monotone."""
    from jobs.curate import curate

    keeper = ("The quick brown fox jumps over the lazy dog today.\n"
              "Then the fox runs through the green field happily.\n"
              "While the farmer watches the sky and clouds drift by.\n"
              "And the children play by the water under the bridge.")
    with_pii = ("The miller can be reached at mill.owner@example.com "
                "for all the corn grinding needs of the village.\n"
                "Please call 555-010-4242 to book the the old barn.\n"
                "And the server lives at 10.1.2.3 for the records.\n"
                "The rest of the document is perfectly ordinary text.")
    thin = "Short line.\nAlso short.\nTiny."        # C4 drops every line
    bullets = ("• the first bullet item\n• the second bullet item\n"
               "• the third bullet item\n• the fourth bullet item")
    rows = [(1, keeper, "s0"), (2, with_pii, "s0"),
            (3, thin, "s1"), (4, bullets, "s1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    curated, stats = curate(spark, docs, jaccard=0.5, min_tokens=10,
                            c4_line_delim="\n", doc_gates=True,
                            repetition_gate=False)
    kept = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert sorted(kept) == [1, 2], (sorted(kept), stats)
    assert "<EMAIL>" in kept[2] and "<PHONE>" in kept[2] \
        and "<IP>" in kept[2]
    assert "example.com" not in kept[2] and "10.1.2.3" not in kept[2]
    assert stats["after_c4_clean"] == 3      # thin doc dropped
    assert stats["pii_docs_scrubbed"] == 1
    assert stats["after_gate"] == 2          # bullets dropped by doc gates
    assert stats["dropped_total"] == 2


def test_curate_with_holdout(spark):
    """curate(holdout=...) drops curated docs leaking into the eval set
    and reports the decontaminated count in the funnel stats."""
    from jobs.curate import curate

    doc6 = ("the river flows past the village where the miller grinds "
            "the corn and the children play by the water under the "
            "bridge while the birds sing in the trees all day")
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox runs through the green field near the old barn "
            "while the farmer watches the sky and the clouds drift")
    docs = spark.createDataFrame(
        [(1, good, "src0"), (6, doc6, "src2")],
        "doc_id long, text string, source string")
    holdout = spark.createDataFrame(
        [(900, "eval prompt: " + doc6)], "doc_id long, text string")
    curated, stats = curate(spark, docs, holdout=holdout)
    assert [r["doc_id"] for r in curated.collect()] == [1]
    assert stats["decontaminated"] == 1
    assert stats["after_near_dedup"] == 2
    assert stats["dropped_total"] == 1


def test_dedup_clusters_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode (parquet write/read-back lineage truncation —
    survives executor loss, unlike localCheckpoint's executor-local
    blocks) produces identical components to the default mode on the
    64-node chain, and actually writes round state under the dir."""
    import os

    from watermark_detector_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 164)], "id_a long, id_b long")
    ckpt = str(tmp_path / "cc_ckpt")
    # driver_max_edges=0: durable checkpointing is a property of the
    # ITERATIVE path — force it (the small-graph fast path never writes
    # round state)
    durable = {r["node"]: r["cluster_id"]
               for r in dedup_clusters(chain, checkpoint_dir=ckpt,
                                       driver_max_edges=0).collect()}
    default = {r["node"]: r["cluster_id"]
               for r in dedup_clusters(chain).collect()}
    assert durable == default
    assert all(r == 100 for r in durable.values()) and len(durable) == 65
    assert os.path.isdir(os.path.join(ckpt, "edges"))
    assert os.path.isdir(os.path.join(ckpt, "labels_0"))


def test_funnel_greedy_semantics(spark):
    """funnel(): greedy-earliest chain, strict ordering, window cut.
    Hand-built per-user sequences pin every semantic corner."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import funnel

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: full chain inside window -> level 3
        (1, T(0), "view", 1), (1, T(10), "click", 2), (1, T(20), "purchase", 3),
        # u2: purchase BEFORE click -> chain stops at level 2
        (2, T(0), "view", 4), (2, T(5), "purchase", 5), (2, T(10), "click", 6),
        # u3: click precedes the first view -> only the view counts
        (3, T(0), "click", 7), (3, T(5), "view", 8),
        # u4: full chain but purchase outside the 30 s window -> level 2
        (4, T(0), "view", 9), (4, T(10), "click", 10), (4, T(45), "purchase", 11),
        # u5: no step-1 event at all -> absent from output
        (5, T(0), "click", 12), (5, T(5), "purchase", 13),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long")
    got = {r["user_id"]: r for r in
           funnel(df, ["view", "click", "purchase"], within_s=30,
                  tiebreak_cols=("event_id",)).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["funnel_level"] == 3 and got[1]["t_complete"] == T(20)
    assert got[2]["funnel_level"] == 2 and got[2]["t_complete"] == T(10)
    # u3's chain starts at its earliest VIEW (T5), not the earlier click
    assert got[3]["funnel_level"] == 1 and got[3]["t_complete"] == T(5)
    assert got[3]["t_start"] == T(5)
    assert got[4]["funnel_level"] == 2 and got[4]["t_complete"] == T(10)
    assert all(got[u]["t_start"] == T(0) for u in (1, 2, 4))


def test_adjacent_pairs_strict_adjacency(spark):
    """Adjacency (the k=2 sequence_match): only CONSECUTIVE A->B rows
    match — an intervening event of any type breaks the pattern, and the
    gap bound is enforced."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import sequence_match

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(0), "click", 1), (1, T(5), "purchase", 2),     # match
        (2, T(0), "click", 3), (2, T(2), "view", 4),
        (2, T(4), "purchase", 5),                            # broken by view
        (3, T(0), "click", 6), (3, T(50), "purchase", 7),    # gap > 30 s
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long")
    got = sequence_match(df, ["click", "purchase"], max_gap_s=30).select(
        "user_id", F.col("t_first").alias("first_ts"),
        F.col("t_last").alias("second_ts")).collect()
    assert [(r["user_id"], r["first_ts"], r["second_ts"]) for r in got] == [
        (1, T(0), T(5))
    ]


def test_hash_split_deterministic_and_weighted(spark):
    """hash_split: identical assignment under any partitioning (never
    rand()), every row labeled, weights approximately honored."""
    from watermark_detector_spark.operators.sampling import hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(df.repartition(1), w).toPandas().sort_values("doc_id")
    b = hash_split(df.repartition(16), w).toPandas().sort_values("doc_id")
    assert (a["split"].values == b["split"].values).all()
    frac = a["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02


def test_hash_split_rejects_bad_weights(spark):
    """A typo'd weight dict must fail loudly at call time, not silently
    dump the remainder into the last split; NULL keys deterministically
    land in the LAST split (documented behavior)."""
    import pytest as _pytest

    from watermark_detector_spark.operators.sampling import hash_split

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    for bad in [{"train": 0.8, "val": 0.1},          # sums to 0.9
                {"train": 1.2, "val": -0.2},          # negative
                {}]:
        with _pytest.raises(ValueError):
            hash_split(df, bad)
    nulls = spark.createDataFrame([(None,), (7,)], "doc_id long")
    out = {r["doc_id"]: r["split"]
           for r in hash_split(nulls, {"train": 0.9, "test": 0.1}).collect()}
    assert out[None] == "test"      # NULL key -> last split, every run


def test_stratified_sample_deterministic(spark):
    """stratified_sample: identical row selection under any
    partitioning, per-stratum rates approximately honored, unlisted
    strata kept whole, bad fractions rejected."""
    import pytest as _pytest

    from watermark_detector_spark.operators.sampling import stratified_sample

    df = (spark.range(3000).withColumnRenamed("id", "doc_id")
          .selectExpr("doc_id",
                      "CASE WHEN doc_id % 3 = 0 THEN 'en' "
                      "WHEN doc_id % 3 = 1 THEN 'es' ELSE 'fr' END AS lang"))
    fr = {"en": 0.3, "es": 0.8}
    a = sorted(r["doc_id"] for r in
               stratified_sample(df.repartition(1), fr).collect())
    b = sorted(r["doc_id"] for r in
               stratified_sample(df.repartition(16), fr).collect())
    assert a == b
    got = stratified_sample(df, fr).groupBy("lang").count().collect()
    n = {r["lang"]: r["count"] for r in got}
    assert abs(n["en"] / 1000 - 0.3) < 0.05
    assert abs(n["es"] / 1000 - 0.8) < 0.05
    assert n["fr"] == 1000                       # unlisted: kept whole
    with _pytest.raises(ValueError):
        stratified_sample(df, {"en": 1.5})


def test_domain_cap_quota(spark):
    """domain_cap keeps exactly min(cap, n) rows per key, the
    deterministically-first ones by order_col."""
    from watermark_detector_spark.operators.sampling import domain_cap

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(df, cap=10, key_col="source", order_col="doc_id").toPandas()
    by = out.groupby("source")["doc_id"].apply(sorted).to_dict()
    assert by["big"] == list(range(10))        # first 10 by doc_id
    assert by["small"] == [1000, 1001, 1002]   # under quota: untouched


def test_warcish_register_enables_pushdown_in_any_session(spark, sf_dir=None):
    """The round-5 driver red row (q84): a session NOT built by
    session.py has spark.sql.python.filterPushdown.enabled=false and
    the warcish scan hard-fails with DATA_SOURCE_PUSHDOWN_DISABLED
    because the reader implements pushFilters. warcish.register(spark)
    must flip the conf at RUNTIME so the source works in any session —
    and the entry-point query path must call it on every invocation,
    not only when it first stages files."""
    from watermark_detector_spark.sources import warcish

    key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "false")     # simulate a vanilla session
        warcish.register(spark)
        assert spark.conf.get(key) == "true"
        # the q84 builder rescues the conf even mid-session (its stage
        # cache may already be warm — registration must not be gated)
        import __spark_entry__ as entry

        spark.conf.set(key, "false")
        df = entry.queries()["q84_warcish_source"](
            spark, "/root/testdata/sf0.001")
        assert df.count() > 0
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)


def test_warcish_overwrite_failure_restores_old_parts(spark, tmp_path_factory):
    """Staged overwrite: old parts are renamed aside at plan time and
    only deleted on commit — a write job that FAILS mid-overwrite
    restores the original contents instead of leaving the target
    empty (advice r5: plan-time delete lost old data on failure)."""
    from datetime import datetime

    import pytest as _pytest

    from watermark_detector_spark.sources import warcish

    warcish.register(spark)
    root = str(tmp_path_factory.mktemp("warcish_ow"))
    ok = spark.createDataFrame(
        [("https://a.com/1", datetime(2025, 1, 1), "en", bytearray(b"x")),
         ("https://b.com/2", datetime(2025, 1, 2), "de", bytearray(b"y"))],
        "url string, warc_ts timestamp, lang string, html binary")
    ok.repartition(2).write.format("warcish").mode("overwrite").save(root)
    before = {r["url"] for r in
              spark.read.format("warcish").load(root).collect()}
    assert before == {"https://a.com/1", "https://b.com/2"}

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def boom(b: pd.Series) -> pd.Series:
        raise RuntimeError("task failure injected by test")

    bad = ok.withColumn("html", boom("html"))
    with _pytest.raises(Exception):
        bad.write.format("warcish").mode("overwrite").save(root)
    after = {r["url"] for r in
             spark.read.format("warcish").load(root).collect()}
    assert after == before, "failed overwrite must not lose old data"


def test_warcish_stream_names_sort_across_writes(spark, tmp_path_factory):
    """Opt-in streamNames writer mode: every part of a later append
    write sorts lexicographically AFTER every part of an earlier write
    — the producer contract the stream reader's name-high-watermark
    offsets require (plain uuid-suffixed names do not guarantee it)."""
    import os
    from datetime import datetime

    from watermark_detector_spark.sources import warcish

    warcish.register(spark)
    root = str(tmp_path_factory.mktemp("warcish_seq"))
    df = spark.createDataFrame(
        [("https://a.com/1", datetime(2025, 1, 1), "en", bytearray(b"x"))],
        "url string, warc_ts timestamp, lang string, html binary")
    (df.repartition(2).write.format("warcish")
       .option("streamNames", "true").mode("append").save(root))
    first = sorted(f for f in os.listdir(root) if f.endswith(".warcish"))
    (df.repartition(2).write.format("warcish")
       .option("streamNames", "true").mode("append").save(root))
    both = sorted(f for f in os.listdir(root) if f.endswith(".warcish"))
    second = [f for f in both if f not in first]
    assert len(first) == 2 and len(second) == 2
    assert max(first) < min(second), (first, second)


def test_semantic_dedup_greedy_keep_first(spark):
    """semantic_dedup: an exact duplicate (cosine 1.0) of a lower-id
    vector is dropped, the lower-id original kept; near-but-below
    threshold survives; results are partitioning-invariant and the
    production Lloyd-refined path (n_iters>0) runs too."""
    from watermark_detector_spark.functions.similarity import semantic_dedup

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding")
    # append exact copies of vectors 0..4 under high ids: same cell by
    # construction (identical vector -> identical argmax), cosine 1.0
    dups = emb.where("vec_id < 5").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(dups)
    out = semantic_dedup(corpus, dim=64, n_cells=8, threshold=0.999,
                         n_iters=0).toPandas().set_index("vec_id")
    for i in range(5):
        assert bool(out.loc[i, "keep"]), "original must be kept"
        assert not bool(out.loc[100000 + i, "keep"]), "copy must drop"
        assert abs(out.loc[100000 + i, "max_prev_sim"] - 1.0) < 1e-9
    # everything else is far below 0.999 -> kept
    assert int((~out["keep"]).sum()) == 5
    # partitioning invariance
    a = (semantic_dedup(corpus.repartition(1), dim=64, n_cells=8,
                        threshold=0.999, n_iters=0)
         .toPandas().sort_values("vec_id").reset_index(drop=True))
    b = (semantic_dedup(corpus.repartition(16), dim=64, n_cells=8,
                        threshold=0.999, n_iters=0)
         .toPandas().sort_values("vec_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # production path: Lloyd refinement changes cells, not the contract
    prod = semantic_dedup(corpus, dim=64, n_cells=8, threshold=0.999,
                          n_iters=2).toPandas().set_index("vec_id")
    for i in range(5):
        assert not bool(prod.loc[100000 + i, "keep"])


def test_sequence_match_alternation(spark):
    """Pattern steps accept ALTERNATIVES ((A|B) sets): a step matches
    any listed type; batch and streaming twins share the normalizer;
    bad step specs fail on the driver."""
    from datetime import datetime

    import pytest as _pytest

    from watermark_detector_spark.operators.cep import (
        normalize_steps,
        sequence_match,
    )

    assert normalize_steps(["a", ("c", "b", "b")]) == [["a"], ["b", "c"]]
    with _pytest.raises(ValueError):
        normalize_steps(["a", []])
    with _pytest.raises(ValueError):
        normalize_steps([("a", 3)])

    T = lambda m: datetime(2024, 1, 1, 10, m, 0)
    rows = [
        # u1 matches via view-click-purchase
        (1, T(0), 1, "view"), (2, T(1), 1, "click"), (3, T(2), 1, "purchase"),
        # u2 matches via click-view-signup (alternatives at each step)
        (4, T(0), 2, "click"), (5, T(1), 2, "view"), (6, T(2), 2, "signup"),
        # u3: final step type outside the alternative set
        (7, T(0), 3, "view"), (8, T(1), 3, "view"), (9, T(2), 3, "error"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = sorted(
        (r["user_id"], r["first_id"])
        for r in sequence_match(
            df, [("view", "click"), ("view", "click"),
                 ("purchase", "signup")], max_gap_s=600).collect())
    assert got == [(1, 1), (2, 4)]
    # plain-string pattern unchanged (singleton normalization)
    plain = sequence_match(df, ["view", "click", "purchase"],
                           max_gap_s=600).collect()
    assert [(r["user_id"], r["first_id"]) for r in plain] == [(1, 1)]


def test_kleene_match_greedy_maximal_runs(spark):
    """kleene_match(): PATTERN (A B+ C) — greedy-maximal B runs, strict
    contiguity, gap breaks, alternation on A, and the C-of-one-match
    serving as the A of the next."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import kleene_match

    T = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    rows = [
        # u1: click view view purchase -> ONE match, n_mid=2 (never the
        # nested 1-mid sub-match)
        (1, T(0), 1, "click"), (2, T(1), 1, "view"),
        (3, T(2), 1, "view"), (4, T(3), 1, "purchase"),
        # u2: wrong closer
        (5, T(0), 2, "click"), (6, T(1), 2, "view"), (7, T(2), 2, "error"),
        # u3: gap breaks the run (24 min > 600 s); the second run's
        # predecessor is a view, not an A -> nothing emits
        (8, T(0), 3, "click"), (9, T(1), 3, "view"),
        (10, T(25), 3, "view"), (11, T(26), 3, "purchase"),
        # u4: A in {click, purchase} -> the first match's purchase is
        # the A of the second match
        (12, T(0), 4, "click"), (13, T(1), 4, "view"),
        (14, T(2), 4, "purchase"), (15, T(3), 4, "view"),
        (16, T(4), 4, "purchase"),
        # u5: run at the head of the key (no predecessor)
        (17, T(0), 5, "view"), (18, T(1), 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = sorted(
        (r["user_id"], r["t_first"], r["t_last"], r["n_mid"], r["first_id"])
        for r in kleene_match(df, ["click", "purchase"], "view", "purchase",
                              max_gap_s=600).collect())
    assert got == [
        (1, T(0), T(3), 2, 1),
        (4, T(0), T(2), 1, 12),
        (4, T(2), T(4), 1, 14),
    ]


def test_bm25_rank_matches_reference(spark):
    """bm25_rank(): exact Okapi BM25 against the pure-Python reference,
    including ranking tie-break by doc_id and zero-match exclusion."""
    import math

    from watermark_detector_spark.functions.ranking import (
        bm25_rank,
        bm25_score_py,
    )

    texts = [
        "spark join hash join merge",          # tf(join)=2
        "hash hash hash table probe",          # high tf, short doc
        "vector scan filter project window",
        "no query words at all here",
        "join",                                # tiny doc
        "hash join vector hash join vector " * 10,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [(r["doc_id"], r["score_micro"], r["n_terms"])
           for r in bm25_rank(df, ["join", "hash", "vector"],
                              topk=10).collect()]
    scores = bm25_score_py(texts, ["join", "hash", "vector"])
    want = sorted(
        ((i, math.floor(s * 1e6 + 0.5)) for i, s in enumerate(scores)
         if s > 0),
        key=lambda x: (-x[1], x[0]))
    assert [(d, s) for d, s, _ in got] == want
    assert dict((d, n) for d, _, n in got)[5] == 3  # all three terms
    assert 3 not in [d for d, _, _ in got]          # zero-match excluded

    import pytest
    with pytest.raises(ValueError):
        bm25_rank(df, [])
    with pytest.raises(ValueError):
        bm25_rank(df, ["join", "join"])


def test_exact_span_dedup_semantics(spark):
    """exact_span_dedup(): first occurrence keeps, later occurrences'
    lines removed, within-doc repeats handled, short/empty docs pass
    through, docs rebuilt from surviving lines."""
    from watermark_detector_spark.operators.dedup import exact_span_dedup

    rows = [
        (0, "a\nb\nc\nd\ne"),          # keeper of (a,b,c),(b,c,d),(c,d,e)
        (1, "x\nb\nc\nd\ny"),          # its (b,c,d) copy is removed
        (2, "p\nq\nr\np\nq\nr"),       # self-duplicate: second run removed
        (3, "one\ntwo"),               # < n lines: untouched
        (4, ""),                       # empty doc survives as empty
        (5, "  zz  \n\n ww \n vv "),   # trims/drops blanks, no dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_lines_removed"])
           for r in exact_span_dedup(df, n=3, line_delim="\n").collect()}
    assert got == {
        0: ("a\nb\nc\nd\ne", 0),
        1: ("x\ny", 3),
        2: ("p\nq\nr", 3),
        3: ("one\ntwo", 0),
        4: ("", 0),
        5: ("zz\nww\nvv", 0),
    }

    import pytest
    with pytest.raises(ValueError):
        exact_span_dedup(df, n=0)


def test_warcish_crashed_overwrite_recovered_on_next_write(
        spark, tmp_path_factory):
    """A DRIVER crash between overwrite staging and commit/abort leaves
    only '.<name>.old-<tag>' aside files; the next write's recovery
    sweep must restore them (original absent) or GC them (original
    present), so data reappears and the disk leak is bounded."""
    import os as _os
    from datetime import datetime

    from watermark_detector_spark.sources import warcish

    warcish.register(spark)
    root = str(tmp_path_factory.mktemp("warcish_crash"))
    ok = spark.createDataFrame(
        [("https://a.com/1", datetime(2025, 1, 1), "en", bytearray(b"x"))],
        "url string, warc_ts timestamp, lang string, html binary")
    ok.write.format("warcish").mode("overwrite").save(root)
    parts = [f for f in _os.listdir(root) if f.endswith(".warcish")]
    assert parts
    # simulate the crash window: parts staged aside, nothing published
    for f in parts:
        _os.rename(_os.path.join(root, f),
                   _os.path.join(root, f".{f}.old-deadbeef"))
    assert not [f for f in _os.listdir(root) if f.endswith(".warcish")]
    # stale aside whose original DOES exist must be GC'd, not restored
    # (an empty .warcish container is valid: zero records)
    keep = _os.path.join(root, "zzz.warcish")
    stale = _os.path.join(root, ".zzz.warcish.old-cafe")
    open(keep, "wb").close()
    with open(stale, "wb") as fh:
        fh.write(b"stale")
    more = spark.createDataFrame(
        [("https://b.com/2", datetime(2025, 1, 2), "de", bytearray(b"y"))],
        "url string, warc_ts timestamp, lang string, html binary")
    more.write.format("warcish").mode("append").save(root)
    urls = {r["url"] for r in
            spark.read.format("warcish").load(root).collect()}
    assert urls == {"https://a.com/1", "https://b.com/2"}
    assert not [f for f in _os.listdir(root) if ".old-" in f]


def test_range_join_matches_inequality_semantics(spark):
    """Bucketized range join == brute-force inequality join on a corpus
    engineered around the failure modes: points exactly at start
    (included) and end (excluded), intervals ending exactly on a bucket
    boundary, microsecond-fractional timestamps, overlapping intervals
    (point matches both), and end <= start rows (dropped)."""
    from datetime import datetime

    from watermark_detector_spark.operators.joins import range_join

    B = 60  # 1-minute buckets
    pts = spark.createDataFrame(
        [(1, datetime(2025, 1, 1, 0, 0, 0)),           # == iv1 start
         (2, datetime(2025, 1, 1, 0, 2, 0)),           # == iv1 end -> out
         (3, datetime(2025, 1, 1, 0, 1, 59, 999999)),  # 1us before end
         (4, datetime(2025, 1, 1, 0, 3, 30)),          # iv2+iv3 overlap
         (5, datetime(2025, 1, 1, 9, 0, 0))],          # matches nothing
        "pid long, ts timestamp")
    iv = spark.createDataFrame(
        [(10, datetime(2025, 1, 1, 0, 0, 0),
          datetime(2025, 1, 1, 0, 2, 0)),      # ends ON a bucket edge
         (20, datetime(2025, 1, 1, 0, 3, 0),
          datetime(2025, 1, 1, 0, 4, 0)),
         (30, datetime(2025, 1, 1, 0, 3, 0, 500000),
          datetime(2025, 1, 1, 0, 3, 45)),     # fractional start
         (40, datetime(2025, 1, 1, 5, 0, 0),
          datetime(2025, 1, 1, 5, 0, 0))],     # empty -> dropped
        "ivid long, s timestamp, e timestamp")
    got = {(r.pid, r.iv_ivid) for r in
           range_join(pts, iv, "ts", "s", "e", bucket_s=B).collect()}
    want = {(r.pid, r.ivid) for r in
            pts.crossJoin(iv)
            .where((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
            .collect()}
    assert got == want
    assert (1, 10) in got and (3, 10) in got and (2, 10) not in got
    assert (4, 20) in got and (4, 30) in got
    with pytest.raises(ValueError):
        range_join(pts, iv, "ts", "s", "e", bucket_s=0)


def test_range_join_plan_has_no_nested_loop(spark):
    """The whole point of the bucket decomposition: the physical plan
    must be a hash/sort-merge equi-join, never the
    BroadcastNestedLoopJoin/CartesianProduct Spark plans for a bare
    range predicate."""
    import __spark_entry__ as E

    plan = E.queries()["q97_range_join"](spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contaminated_ids_bloom_equals_exact(spark):
    """Bloom pre-gate has no false negatives and the confirm join kills
    false positives, so the result must be IDENTICAL to the exact
    semi-join operator on the same split."""
    from watermark_detector_spark.operators.dedup import (
        contaminated_ids, contaminated_ids_bloom)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, f"doc {i} " + base[: 40 + (i * 7) % 60]) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    train = docs.where(F.col("doc_id") % 4 != 0)
    hold = docs.where(F.col("doc_id") % 4 == 0)
    exact = {(r.doc_id, r.n_shared_fps)
             for r in contaminated_ids(train, hold).collect()}
    bloom = {(r.doc_id, r.n_shared_fps)
             for r in contaminated_ids_bloom(train, hold).collect()}
    assert bloom == exact and exact  # non-trivial overlap by construction
    with pytest.raises(ValueError, match="max_holdout_fps"):
        contaminated_ids_bloom(train, hold, max_holdout_fps=1)


def test_lm_quality_hand_computed(spark):
    """Unigram LM score against hand-computed add-one-smoothed values,
    including the OOV floor and the deterministic (count DESC, token
    ASC) vocabulary tie-break."""
    import math

    from watermark_detector_spark.functions.text import lm_quality

    ref = spark.createDataFrame(
        [(0, "a a a b b c")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "zzz")], "doc_id long, text string")
    # vocab_size=2 keeps {a:3, b:2}; ties would cut by token ASC
    out = {r.doc_id: r for r in
           lm_quality(docs, ref, vocab_size=2).collect()}
    t, v = 5, 2  # in-vocab total, vocab rows
    p_a, p_b, p_oov = (3 + 1) / (t + v + 1), (2 + 1) / (t + v + 1), 1 / (t + v + 1)
    want1 = round(-(math.log(p_a) + math.log(p_b)) / 2, 4)
    want2 = round(-math.log(p_oov), 4)
    assert out[1].n_tokens == 2 and abs(out[1].avg_nll - want1) < 1e-9
    assert out[2].n_tokens == 1 and abs(out[2].avg_nll - want2) < 1e-9
    # tie-break: c and d both count 1 -> vocab_size=3 must keep 'c'
    ref2 = spark.createDataFrame(
        [(0, "a a d c")], "doc_id long, text string")
    out2 = {r.doc_id: r.avg_nll for r in
            lm_quality(spark.createDataFrame([(1, "c"), (2, "d")],
                                             "doc_id long, text string"),
                       ref2, vocab_size=2).collect()}
    # vocab = {a:2, c:1} (c beats d lexicographically); d is OOV
    assert out2[1] < out2[2]


def test_pack_sequences_greedy_and_oversize(spark):
    """Greedy first-fit-in-order packing: exact expected assignment on
    a hand-built shard, including an oversize doc (own pack, flagged,
    never joined by the next doc) and the deterministic doc_id order."""
    from watermark_detector_spark.operators.packing import pack_sequences

    mk = lambda n: " ".join(["w"] * n)
    docs = spark.createDataFrame(
        [(0, mk(6)), (2, mk(3)), (4, mk(12)), (6, mk(2)), (8, mk(5))],
        "doc_id long, text string")
    out = {r.doc_id: (r.pack_id, r.pack_pos, r.pack_fill, r.oversize)
           for r in pack_sequences(docs, capacity=10, n_shards=2).collect()}
    assert out[0] == (0, 0, 6, False)
    assert out[2] == (0, 1, 9, False)        # 6+3 <= 10
    assert out[4] == (1, 0, 12, True)        # oversize: own pack
    assert out[6] == (2, 0, 2, False)        # never joins the oversize pack
    assert out[8] == (2, 1, 7, False)
    assert {r.shard for r in
            pack_sequences(docs, 10, n_shards=2).collect()} == {0}
    with pytest.raises(ValueError):
        pack_sequences(docs, capacity=0)


def test_curate_lm_gate(spark):
    """curate(lm_nll_max=...): the unigram LM fit on the gated corpus
    drops the gibberish outlier (every token OOV -> max NLL) while
    fluent docs built from the corpus vocabulary survive; funnel gains
    after_lm_gate between the gates and exact dedup."""
    from jobs.curate import curate

    from watermark_detector_spark.functions.text import lm_quality

    base = ("the quick brown fox jumps over the lazy dog and then "
            "the fox runs through the green field near the old barn "
            "while the farmer watches the sky and the clouds drift")
    alt = ("the river flows past the village where the miller grinds "
           "the corn and the children play by the water under the "
           "bridge while the birds sing in the trees and the fox naps")
    # a few 'the's pass the lang gate; everything else is one-off junk
    gibberish = ("the qz0x vrk9 plmt zzqj wfhg the xxo2 kkr7 bnm4 qpw8 "
                 "zzt1 aal5 rrd3 uue6 iio9 the ppa2 ssk4 ddf7 ggh1 jjl8")
    docs = spark.createDataFrame(
        [(1, base, "s0"), (2, alt, "s0"), (3, gibberish, "s1")],
        "doc_id long, text string, source string")
    # self-calibrated cut: the gibberish doc must score strictly worse
    # than both fluent docs; the gate threshold sits between them
    scores = {r.doc_id: r.avg_nll
              for r in lm_quality(docs, docs, vocab_size=64).collect()}
    assert scores[3] > max(scores[1], scores[2]), scores
    thr = (scores[3] + max(scores[1], scores[2])) / 2
    curated, stats = curate(spark, docs, repetition_gate=False,
                            min_quality=0.0, min_tokens=1,
                            lm_nll_max=thr, lm_vocab=64)
    kept = sorted(r["doc_id"] for r in curated.collect())
    assert kept == [1, 2], (kept, stats, scores)
    assert stats["after_lm_gate"] == 2
    assert stats["after_gate"] >= stats["after_lm_gate"]


def test_range_join_with_equi_key(spark):
    """range_join(on=...): the equi-key composes with the bucket key —
    a point inside an interval's time span but under a different key
    must NOT match."""
    from datetime import datetime

    from watermark_detector_spark.operators.joins import range_join

    T = lambda m: datetime(2025, 3, 1, 0, m, 0)
    pts = spark.createDataFrame(
        [(1, 7, T(5)), (2, 8, T(5)), (3, 7, T(50))],
        "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(
        [(10, 7, T(0), T(10)), (20, 8, T(0), T(10))],
        "ivid long, k long, s timestamp, e timestamp")
    got = {(r.pid, r.iv_ivid) for r in
           range_join(pts, iv, "ts", "s", "e", bucket_s=60, on="k").collect()}
    assert got == {(1, 10), (2, 20)}


def test_absence_match_semantics(spark):
    """absence_match (CEP notFollowedBy): suppression window is the
    half-open (a, a+within] — a B at exactly a's timestamp does NOT
    suppress AND must not mask a later in-window B (the tie-masking
    bug the single-window formulation has), a B at exactly a+within
    does suppress, a B one second past does not; within_s validated."""
    from datetime import datetime

    from watermark_detector_spark.operators.cep import absence_match

    T = lambda s: datetime(2024, 6, 1, 12, 0, 0) if s == 0 else \
        datetime(2024, 6, 1, 12, s // 60, s % 60)
    rows = [
        # (event_id, user, sec, type)
        (1, 1, 0, "A"), (2, 1, 30, "B"),          # suppressed (in window)
        (3, 2, 0, "A"), (4, 2, 0, "B"),           # tie: NOT suppressed
        (5, 3, 0, "A"), (6, 3, 0, "B"), (7, 3, 45, "B"),  # tie must not
        # mask the in-window B at +45 -> suppressed
        (8, 4, 0, "A"), (9, 4, 60, "B"),          # boundary: suppressed
        (10, 5, 0, "A"), (11, 5, 61, "B"),        # past window: alert
    ]
    df = spark.createDataFrame(
        [(i, u, T(s), ty) for i, u, s, ty in rows],
        "event_id long, user_id long, ts timestamp, event_type string")
    got = {(r.user_id, r.a_id)
           for r in absence_match(df, "A", "B", within_s=60).collect()}
    assert got == {(2, 3), (5, 10)}, got
    import pytest as _pytest
    with _pytest.raises(ValueError):
        absence_match(df, "A", "B", within_s=0)


def test_url_canonicalize_hand_cases(spark):
    """url_canonicalize: every normalization rule on hand-built URLs —
    case, default ports (scheme-matched only), www, fragment, trailing
    slashes, tracking-param removal, param sorting; values preserved."""
    from watermark_detector_spark.functions.domains import url_canonicalize

    cases = [
        ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://ex.com/a/b?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com/"),
        ("http://ex.com:443/x", "http://ex.com:443/x"),  # not http's port
        ("https://ex.com", "https://ex.com/"),
        ("https://ex.com/p?gclid=z&ref=rss", "https://ex.com/p"),
        ("https://ex.com/p///", "https://ex.com/p"),
        ("https://ex.com/A/B?q=Mixed+Case", "https://ex.com/A/B?q=Mixed+Case"),
        ("https://ex.com/p?b=1&b=0", "https://ex.com/p?b=0&b=1"),  # repeats kept
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in
           df.select(url_canonicalize(F.col("url")).alias("c")).collect()]
    assert got == [w for _, w in cases], list(zip(got, [w for _, w in cases]))
