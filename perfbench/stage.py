"""Input staging for the benchmark workloads.

Every input is a pure function of (workload, seed, generator params), is
written once under ``<checkout>/.perfbench/cache/<key>/`` and is reused
by later runs with the same key; staging happens before any timed
region. The engine only ever sees the parquet files written here.

References for the output checks are derived here too, never by running
the code under test:
- pages: the fixture splice-log golden (``fixtures.golden_windows``);
- documents: the q45/q59 DuckDB oracle SQL of ``__spark_entry__``.
The events reference (the batch twin ``operators.cep.sequence_match``)
depends on how far a run got, so it is computed after the run.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pandas as pd

# flagship corpus: FixtureConfig bench shape (500 Zipf domains, 100
# signatures, 200-500 words). BASE_DOCS unique documents are generated by
# fixtures.gen_doc (~1.3 ms each); the corpus holds REPLICAS copies of
# them, each copy with its own URLs and shifted REPLICA_SHIFT_S in event
# time, so every window of the golden stays distinct and the golden is
# the base golden shifted per copy. The engine keeps no per-document
# cache, so copies cost the same as fresh documents.
BASE_DOCS = 2000
REPLICAS = 20
REPLICA_SHIFT_S = 4 * 3600  # > span (2 h) + late shift (75 min)
BATCH_FILES = 8
# flagship stream: the base documents in event-time order, cut into
# files of STREAM_FILE_DOCS pages
STREAM_FILE_DOCS = 100
# cep: sf0.1 events shape (100k events, 1,500 users, 5 types, 30 days)
EVENTS = 100_000
EVENT_USERS = 1500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_FILES = 50
EVENT_SPAN_S = 30 * 86400
OOO_MAX_SHIFT_S = 25 * 60  # out-of-order shift, below the 30 min watermark
# neardup: sf0.1 documents shape (5,000 docs, 10-100 words over a
# 32-word vocabulary, 5% near-duplicates of an earlier document)
DOCS = 5000
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch"]
DOC_LANGS = ["en", "en", "zh", "es", "fr", "de"]
DUP_SHARE = 0.05
WARM_DOCS = 200


def fixture_config(seed: int, n_docs: int = BASE_DOCS):
    from watermark_detector_spark.fixtures import FixtureConfig

    return FixtureConfig(seed=seed, n_docs=n_docs, n_domains=500, n_sigs=100,
                         min_words=200, max_words=500)


def _cache_dir(root: str, key: str) -> tuple[str, bool]:
    d = os.path.join(root, "cache", key)
    return d, os.path.exists(os.path.join(d, "_STAGED"))


def _publish(d: str, meta: dict) -> dict:
    with open(os.path.join(d, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    open(os.path.join(d, "_STAGED"), "w").close()
    return meta


def _load(d: str) -> dict:
    with open(os.path.join(d, "meta.json")) as fh:
        return json.load(fh)


def _page_rows(docs: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame([{k: d[k] for k in ("url", "warc_ts", "html", "text", "lang")}
                       for d in docs])
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    return df


def _base_docs(seed: int, n_docs: int) -> tuple[list[dict], object]:
    from watermark_detector_spark.fixtures import _domains, gen_doc

    cfg = fixture_config(seed, n_docs)
    domains = _domains(cfg)
    return [gen_doc(i, cfg, domains) for i in range(n_docs)], cfg


def stage_warm(root: str, seed: int) -> dict:
    """A few pages for the set-up warm pass (same shape as the corpus)."""
    d, ok = _cache_dir(root, f"warm-s{seed}-n{WARM_DOCS}")
    if ok:
        return _load(d)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    docs, _ = _base_docs(seed, WARM_DOCS)
    _page_rows(docs).to_parquet(os.path.join(d, "pages.parquet"), index=False)
    return _publish(d, {"pages": os.path.join(d, "pages.parquet")})


def stage_batch(root: str, seed: int, base_docs: int = BASE_DOCS,
                replicas: int = REPLICAS) -> dict:
    """flagship-batch: base_docs x replicas pages + windowed golden."""
    from watermark_detector_spark.fixtures import golden_windows

    d, ok = _cache_dir(root, f"batch-s{seed}-n{base_docs}x{replicas}-f{BATCH_FILES}")
    if ok:
        return _load(d)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "pages"))
    docs, cfg = _base_docs(seed, base_docs)
    base = _page_rows(docs)
    base_golden = golden_windows(docs, cfg, exclude_late=False)
    parts, goldens = [], []
    for r in range(replicas):
        shift = pd.Timedelta(seconds=r * REPLICA_SHIFT_S)
        p = base.copy()
        p["url"] = p["url"] + f"-r{r}"
        p["warc_ts"] = (p["warc_ts"] + shift).astype("datetime64[us]")
        parts.append(p)
        g = base_golden.copy()
        g["window_start"] = g["window_start"] + shift
        g["window_end"] = g["window_end"] + shift
        goldens.append(g)
    pages = pd.concat(parts, ignore_index=True)
    # seed-dependent row order and file split, like a crawl shard layout
    pages = pages.iloc[np.random.default_rng(seed).permutation(len(pages))]
    for j in range(BATCH_FILES):
        pages.iloc[j::BATCH_FILES].to_parquet(
            os.path.join(d, "pages", f"part-{j:03d}.parquet"), index=False)
    golden = pd.concat(goldens, ignore_index=True)
    _us(golden).to_parquet(os.path.join(d, "golden.parquet"), index=False)
    return _publish(d, {
        "pages": os.path.join(d, "pages"),
        "golden": os.path.join(d, "golden.parquet"),
        "n_pages": int(len(pages)),
        "bytes": int(sum(os.path.getsize(os.path.join(d, "pages", f))
                         for f in os.listdir(os.path.join(d, "pages")))),
    })


def stage_stream(root: str, seed: int, base_docs: int = BASE_DOCS) -> dict:
    """flagship-stream: the base documents in event-time order, cut into
    files the open-loop generator drops one by one; the golden covers
    every window (the check restricts it to the closed ones)."""
    from watermark_detector_spark.fixtures import golden_windows

    d, ok = _cache_dir(root, f"stream-s{seed}-n{base_docs}-f{STREAM_FILE_DOCS}")
    if ok:
        return _load(d)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "files"))
    docs, cfg = _base_docs(seed, base_docs)
    pages = _page_rows(docs).sort_values(["warc_ts", "url"], kind="stable")
    files = []
    for i, s in enumerate(range(0, len(pages), STREAM_FILE_DOCS)):
        p = os.path.join(d, "files", f"batch_{i:05d}.parquet")
        pages.iloc[s:s + STREAM_FILE_DOCS].to_parquet(p, index=False)
        files.append(p)
    golden = golden_windows(docs, cfg, exclude_late=False)
    _us(golden).to_parquet(os.path.join(d, "golden.parquet"), index=False)
    return _publish(d, {"files": files, "golden": os.path.join(d, "golden.parquet"),
                        "n_pages": int(len(pages))})


def stage_events(root: str, seed: int, n_events: int = EVENTS,
                 n_files: int = EVENT_FILES) -> dict:
    """cep-stream: n_events events over EVENT_SPAN_S in n_files files
    of arrival order. The seed sets the share of out-of-order events
    (1-5%) and which ones; each is stamped up to OOO_MAX_SHIFT_S earlier
    than its arrival position, always inside the 30 min watermark."""
    d, ok = _cache_dir(root, f"events-s{seed}-n{n_events}-f{n_files}")
    if ok:
        return _load(d)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "files"))
    rng = np.random.default_rng(seed)
    nominal = np.sort(rng.uniform(0, EVENT_SPAN_S, n_events))
    ooo_share = 0.01 + 0.04 * rng.random()
    shift = np.where(rng.random(n_events) < ooo_share,
                     rng.uniform(1, OOO_MAX_SHIFT_S, n_events), 0.0)
    base = np.datetime64(datetime(2024, 1, 1), "us")
    ev = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": base + ((nominal - shift) * 1e6).astype("int64").astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, n_events).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
    })
    ev["props"] = ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]
    files = []
    per = n_events // n_files
    for i in range(n_files):
        p = os.path.join(d, "files", f"events_{i:05d}.parquet")
        ev.iloc[i * per:(i + 1) * per].to_parquet(p, index=False)
        files.append(p)
    return _publish(d, {"files": files, "n_events": n_events,
                        "ooo_share": float(ooo_share),
                        "ooo_events": int((shift > 0).sum())})


def _documents(n_docs: int) -> pd.DataFrame:
    # content is fixed (generator seed 0): the run seed only permutes row
    # order and file split, so the dedup work is the same on every seed
    rng = np.random.default_rng(0)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 100 and rng.random() < DUP_SHARE:
            src = texts[int(rng.integers(0, i))].split()
            # near-duplicate: one word replaced, " dup" appended
            src[int(rng.integers(0, len(src)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(DOC_VOCAB)[rng.integers(0, len(DOC_VOCAB), n)]))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [DOC_LANGS[i % len(DOC_LANGS)] for i in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def stage_documents(root: str, seed: int, n_docs: int = DOCS) -> dict:
    """neardup: the documents table in a seed-dependent row order and
    file split, plus the q45 (pairs) and q59 (clusters) oracle results."""
    d, ok = _cache_dir(root, f"docs-s{seed}-n{n_docs}")
    if ok:
        return _load(d)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "files"))
    docs = _documents(n_docs)
    # the oracle result does not depend on row order: derive it once
    ref, ref_ok = _cache_dir(root, f"docs-oracle-n{n_docs}")
    if not ref_ok:
        shutil.rmtree(ref, ignore_errors=True)
        os.makedirs(ref)
        pairs, clusters = oracle_near_dups(docs)
        pairs.to_parquet(os.path.join(ref, "pairs.parquet"), index=False)
        clusters.to_parquet(os.path.join(ref, "clusters.parquet"), index=False)
        _publish(ref, {})
    rng = np.random.default_rng(seed)
    docs = docs.iloc[rng.permutation(len(docs))]
    n_files = int(rng.integers(2, 9))
    for j, chunk in enumerate(np.array_split(np.arange(len(docs)), n_files)):
        docs.iloc[chunk].to_parquet(
            os.path.join(d, "files", f"part-{j:03d}.parquet"), index=False)
    return _publish(d, {"files": os.path.join(d, "files"), "n_docs": int(len(docs)),
                        "n_files": n_files,
                        "pairs": os.path.join(ref, "pairs.parquet"),
                        "clusters": os.path.join(ref, "clusters.parquet")})


def oracle_near_dups(docs: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """q45/q59 reference through DuckDB, from the driver-contract SQL."""
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pairs = con.execute(sql["q45_near_dup_pairs"]).df()
        clusters = con.execute(sql["q59_dedup_clusters"]).df()
    finally:
        con.close()
    return pairs, clusters


def _us(df: pd.DataFrame) -> pd.DataFrame:
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df
