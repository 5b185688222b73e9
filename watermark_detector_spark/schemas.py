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

# --- detection output ----------------------------------------------------
# Mirror of the reference's annotations array-of-structs
# (train_watermarks.py:54-58,77-85): per-document list of labeled spans.
DETECTION_STRUCT = T.StructType(
    [
        T.StructField("sig_id", T.LongType(), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("begin", T.IntegerType(), False),  # bbox-min analog (T:78)
        T.StructField("end", T.IntegerType(), False),  # bbox-max analog
        T.StructField("score", T.DoubleType(), False),  # confidence (T:311)
    ]
)
DETECTIONS_COL_TYPE = T.ArrayType(DETECTION_STRUCT)
