"""``extract_series`` — HTML binary → text over an Arrow batch: the
extract step of the flagship's fused pass; ``extract_text_udf`` wraps it
as a pandas UDF.

The byte-identical-per-url contract (BASELINE.json input_hint) lives
here: for any url, the extracted text's UTF-8 bytes must equal the
pinned golden bytes, at any partitioning and batch size. Analog of the
reference's image decode (generate_dataset.py:184, train_watermarks.py:319).

The batch body is vectorized pandas (``Series.str`` regex ops, C-level
loops) — no per-row Python in the hot path.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .core import _ESCAPES

_MAIN_RX = r"<main[^>]*>(.*?)</main>"
_BODY_RX = r"<body[^>]*>(.*?)</body>"
_DROP_RX = r"<(?:script|style|nav|footer|header|aside)[^>]*>.*?</(?:script|style|nav|footer|header|aside)>"
_TAG_RX = r"<[^>]+>"


def _tag_content(t: str | None, open_lit: str, close_lit: str) -> str | None:
    """Content of the first ``<tag...>...</tag>`` block, byte-identical
    to ``re.search(rf"<tag[^>]*>(.*?)</tag>", t, re.S)`` but at
    str.find (memchr) speed instead of lazy-quantifier stepping —
    measured 66 -> 6 us/doc on the bench corpus.

    Equivalence argument (any input): the regex matches at the leftmost
    ``open_lit`` whose ``[^>]*>`` reaches the FIRST '>' at/after it and
    whose lazy body ends at the FIRST ``close_lit`` after that '>'.
    Positions are monotone, so if no ``close_lit`` follows the first
    '>' after the first ``open_lit``, no later start can match either —
    both forms return None together."""
    if t is None:
        return None
    i = t.find(open_lit)
    if i == -1:
        return None
    j = t.find(">", i + len(open_lit))
    if j == -1:
        return None
    k = t.find(close_lit, j + 1)
    if k == -1:
        return None
    return t[j + 1:k]


def extract_series(html: pd.Series) -> pd.Series:
    """Vectorized extraction over a batch of html payloads (bytes)."""
    s = html.map(lambda b: b.decode("utf-8", "replace") if b is not None else None)
    s = pd.Series(s, index=html.index, dtype="object")
    main = s.map(lambda t: _tag_content(t, "<main", "</main>"))
    # fallback path for pages without <main>: body minus boilerplate blocks
    no_main = main.isna() & s.notna()
    if no_main.any():
        body = pd.Series(
            [_tag_content(t, "<body", "</body>") for t in s[no_main]],
            index=s[no_main].index, dtype="object")
        body = body.fillna(s[no_main])
        body = body.str.replace(_DROP_RX, " ", regex=True, flags=re.S | re.I)
        main = main.copy()
        main[no_main] = body
    out = main.str.replace(_TAG_RX, "", regex=True)
    # entity unescape only where an entity can exist: the five literal
    # replace passes each rescan every row, but rows without '&' are
    # the common case in extracted text — gate on one memchr-speed
    # containment check (byte-identical output; a no-op replace is a
    # no-op either way)
    has_amp = out.str.contains("&", regex=False) == True  # noqa: E712 — null-safe
    if has_amp.any():
        sub = out[has_amp]
        # reverse order: &amp; last, so '&amp;lt;' unescapes to '&lt;'
        for raw, esc in reversed(_ESCAPES):
            sub = sub.str.replace(esc, raw, regex=False)
        out = out.copy()
        out[has_amp] = sub
    return out.str.strip()


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_series(html)
