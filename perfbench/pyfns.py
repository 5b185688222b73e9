"""mapInPandas bodies for the traced batch prefixes. They live in their
own module so Python workers import them by name."""

from __future__ import annotations


def identity(batches):
    """Arrow transit into Python and back, with no work."""
    yield from batches


def extract_only(batches):
    """Transit plus ``functions.extract.extract_series``, no detection."""
    from watermark_detector_spark.functions.extract import extract_series

    for pdf in batches:
        pdf["html"] = extract_series(pdf["html"])
        yield pdf.rename(columns={"html": "text"})
