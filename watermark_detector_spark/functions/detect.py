"""``detect`` — per-document signature detection as a pandas UDF.

Replaces the reference's CNN detector head (``DefaultPredictor``,
train_watermarks.py:312,320): text in, ``array<struct<sig_id, category,
begin, end, score>>`` out (the flagship itself calls ``core.detect_text``
from its fused pass). Matching/merging/scoring semantics live in
``core.detect_text`` (threshold→dilate→contour→bbox re-expressed as
match→merge-spans→min/max, SURVEY.md §2.2/2.4).

The signature set is a small dimension (the logo directory analog,
generate_dataset.py:111-113): it is collected once on the driver and
shipped inside the UDF closure — the same data-movement shape as a
broadcast join, with zero shuffle. The >=0.5 keep-filter is applied at
query level, not here (train_watermarks.py:311).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DETECTIONS_COL_TYPE
from .core import Signature, build_detector, detect_text


def signatures_from_df(sig_df: DataFrame) -> list[Signature]:
    """Collect the (small) signature dimension to plain objects."""
    return [
        Signature(
            sig_id=r["sig_id"],
            pattern=r["pattern"],
            category=r["category"],
            weight=r["weight"],
            valid_from_offset_s=0,
        )
        for r in sig_df.select("sig_id", "pattern", "category", "weight").collect()
    ]


def make_detect_udf(signatures: list[Signature]):
    """Build the detect pandas UDF closed over a fixed signature set."""
    by_id = {s.sig_id: s for s in signatures}
    rx = build_detector(signatures)

    def _detect_batch(texts: pd.Series) -> pd.Series:
        # finditer over each doc; C-level regex does the heavy scan.
        return texts.map(
            lambda t: [
                {"sig_id": sid, "category": cat, "begin": b, "end": e, "score": s}
                for sid, cat, b, e, s in detect_text(t, by_id, rx)
            ]
            if t is not None
            else []
        )

    return F.pandas_udf(_detect_batch, DETECTIONS_COL_TYPE)
