"""Explicit schemas for every engine table.

The reference aligns three sorted directory listings by index — an
implicit, convention-based schema (train_watermarks.py:38-48). The
engine replaces that with fixed StructTypes and key-based joins on
``url`` (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input stream/table (BASELINE.json input_hint) ----------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# --- signature dimension (stream-static / stream-stream join side) ------
# Analog of the watermark/logo directory (generate_dataset.py:111-113).
SIGNATURES_SCHEMA = T.StructType(
    [
        T.StructField("sig_id", T.LongType(), False),
        T.StructField("pattern", T.StringType(), False),
        T.StructField("category", T.StringType(), False),  # watermark | text
        T.StructField("weight", T.DoubleType(), False),
        T.StructField("valid_from", T.TimestampType(), False),
    ]
)
