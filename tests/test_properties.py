"""Property-based tests (hypothesis): the pure-python detection core
must hold its invariants on ARBITRARY inputs, not just fixture-shaped
ones — merge well-formedness, token-anchored spans, score bounds,
chunker coverage. These are the contracts the SQL oracles and the
golden fixtures rely on implicitly."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from watermark_detector_spark.functions.core import (
    MERGE_GAP,
    build_detector,
    detect_text,
    make_signatures,
)

# words from a small alphabet so anchors/pattern tokens collide often —
# collisions are exactly where scanner bugs live
_WORD = st.sampled_from(
    ["wm000sig", "wm001sig", "stampmark", "protected", "sample", "123",
     "1234", "key", "agg", "row", "the", "a", "zz", "stampmarked", "pro"]
)
_TEXT = st.lists(_WORD, min_size=0, max_size=60).map(" ".join)
_SIGS = make_signatures(8)
_BY_ID = {s.sig_id: s for s in _SIGS}
_DET = build_detector(_SIGS)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_detect_output_invariants_property(text):
    """Merged detections: begin-sorted, per-signature spans separated by
    more than MERGE_GAP (else they would have merged), spans inside the
    document, scores in (0, 1]."""
    out = detect_text(text, _BY_ID, _DET)
    assert out == sorted(out, key=lambda r: (r[2], r[0]))
    last_end = {}
    for sid, cat, b, e, score in out:
        assert 0 <= b < e <= len(text)
        assert 0.0 < score <= 1.0
        assert cat in ("watermark", "text")
        if sid in last_end:
            assert b - last_end[sid] > MERGE_GAP, "unmerged adjacent spans"
        last_end[sid] = e


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_detect_spans_are_token_anchored_property(text):
    """Every reported span starts at a whitespace token boundary and its
    matched prefix re-confirms against the signature's own regex — the
    spec the SQL oracles (q23/q28) replay."""
    from watermark_detector_spark.functions.core import _sig_regex

    for sid, _, b, e, _ in detect_text(text, _BY_ID, _DET):
        assert b == 0 or text[b - 1].isspace()
        assert re.compile(_sig_regex(_BY_ID[sid])).match(text, b) is not None


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=0, max_size=50),
       st.integers(1, 8), st.integers(1, 8))
def test_chunker_covers_every_token_property(words, chunk_tokens, step):
    """ChunkText(chunk, step): with step <= chunk_tokens every token of
    the document appears in at least one chunk, chunk sizes are within
    bounds, and indices are dense from 0."""
    from watermark_detector_spark.functions.text import ChunkText

    if step > chunk_tokens:  # gaps allowed by contract; skip coverage check
        step = chunk_tokens
    text = " ".join(words)
    rows = list(ChunkText.func().eval(text, chunk_tokens, step))
    assert [r[0] for r in rows] == list(range(len(rows)))
    covered = []
    for _, chunk, n in rows:
        toks = chunk.split() if chunk else []
        assert len(toks) == n <= chunk_tokens
        covered.extend(toks)
    if words:
        assert len(covered) >= len(words)  # every token appears >= once
    else:
        assert rows == []
