"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed in Arrow-batched ``mapInPandas`` stages.

The container has no image/audio codecs, so the DECODE step is stubbed
behind ``decoder=`` (default: a deterministic fake that derives stats
from the payload bytes — clearly marked; swap in cv2/PIL/ffmpeg on a
real cluster). Everything Spark-side is real and tested: schema,
batching, partitioning, UDF signatures — the same shape the reference
uses for images (bytes → numpy → features, generate_dataset.py:184,
train_watermarks.py:319).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes bigint, "
    "feature array<float>, ok boolean, error string"
)


def fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """DETERMINISTIC FAKE decoder (no codecs in this container): derives
    an 8-dim feature from the md5 of the payload bytes — md5 so a SQL
    oracle (DuckDB ``md5(text)``) can recompute feature values exactly.
    Feature i = digest byte i / 255 as float32. Replace with a real
    cv2/PIL/soundfile decode on a cluster with codecs installed."""
    if payload is None:
        raise ValueError("null payload")
    h = hashlib.md5(payload).digest()
    return np.frombuffer(h[:8], dtype=np.uint8).astype(np.float32) / 255.0


FRAME_SCHEMA = (
    "media_id string, frame_idx int, frame_ts_ms bigint, frame_fp string, ok boolean"
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling plumbing: one video row → one row per sampled
    frame at ``every_ms`` intervals (a mapInPandas row-expander — the
    UDTF shape). The DECODE is stubbed (no ffmpeg in this container):
    the frame fingerprint is md5(payload ':' idx) — deterministic AND
    SQL-recomputable, so the whole expander is oracle-checked (driver
    query q52). Real clusters swap the fingerprint for an actual frame
    grab; row fan-out, schema and batching are production-real."""

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "frame_idx", "frame_ts_ms", "frame_fp", "ok")}
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"],
                                         pdf["duration_ms"]):
                n = 1 if dur is None or pd.isna(dur) else max(1, int(dur) // every_ms)
                for i in range(n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    if payload is None:
                        out["frame_fp"].append(None)
                        out["ok"].append(False)
                    else:
                        out["frame_fp"].append(
                            hashlib.md5(payload + b":" + str(i).encode()).hexdigest()
                        )
                        out["ok"].append(True)
            yield pd.DataFrame({
                "media_id": pd.Series(out["media_id"], dtype="object"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "frame_ts_ms": pd.Series(out["frame_ts_ms"], dtype="int64"),
                "frame_fp": pd.Series(out["frame_fp"], dtype="object"),
                "ok": pd.Series(out["ok"], dtype="bool"),
            })

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        _proc, schema=FRAME_SCHEMA
    )


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], np.ndarray] = fake_decode,
    batch_size_hint: int = 256,
) -> DataFrame:
    """media table → per-item feature vectors via mapInPandas.

    Partition-parallel, Arrow-batched; failures are captured per row
    (ok/error columns) instead of failing the task — at 100 TB a few
    corrupt payloads must never kill a 10-hour job."""

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                row = {
                    "media_id": mid,
                    "kind": kind,
                    "n_bytes": len(payload) if payload is not None else 0,
                    "feature": None,
                    "ok": False,
                    "error": None,
                }
                try:
                    row["feature"] = [float(x) for x in decoder(payload, kind)]
                    row["ok"] = True
                except Exception as e:  # capture, don't kill the task
                    row["error"] = f"{type(e).__name__}: {e}"
                out.append(row)
            yield pd.DataFrame(out)

    return media.mapInPandas(_proc, schema=FEATURE_SCHEMA)
