"""Unit tests for the pure core semantics (no Spark)."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from watermark_detector_spark.fixtures import FixtureConfig, _domains, gen_doc
from watermark_detector_spark.functions.core import (
    MERGE_GAP,
    SCORE_THRESHOLD,
    build_detector,
    detect_text,
    make_signatures,
    render_html,
    span_score,
    stable_hash,
)
from watermark_detector_spark.functions.extract import extract_series

CFG = FixtureConfig(n_docs=300)
DOMAINS = _domains(CFG)
SIGS = CFG.signatures
BY_ID = {s.sig_id: s for s in SIGS}
RX = build_detector(SIGS)


def extract(html: bytes | None) -> str | None:
    return extract_series(pd.Series([html], dtype="object")).iloc[0]


def test_stable_hash_deterministic():
    assert stable_hash(42, 1, "x") == stable_hash(42, 1, "x")
    assert stable_hash(42, 1, "x") != stable_hash(42, 1, "y")


def test_extract_roundtrip_all_docs():
    """Byte-identity invariant (BASELINE.json input_hint): extraction of
    the rendered html must reproduce the original text exactly."""
    for i in range(CFG.n_docs):
        d = gen_doc(i, CFG, DOMAINS)
        assert extract(d["html"]) == d["text"], f"doc {i}"


def test_extract_handles_entities_and_fallback():
    html = render_html("https://x.example.com/p/1", 1, 'a & b < c > "d"', "en")
    assert extract(html) == 'a & b < c > "d"'
    # no <main>: body minus boilerplate blocks
    raw = b"<html><body><nav>chrome</nav><p>hello world</p><script>x=1</script></body></html>"
    assert extract(raw) == "hello world"
    assert extract(None) is None


def test_extract_find_based_equals_regex_reference():
    """r8 optimization pin: the str.find-based <main>/<body> content
    extraction and the '&'-gated unescape must stay byte-identical to
    the historical regex reference on adversarial tag layouts (prefix
    tags, decoy closers, missing closers, multiple blocks, entities,
    invalid utf-8)."""
    import re

    from watermark_detector_spark.functions.core import _ESCAPES
    from watermark_detector_spark.functions.extract import (
        _BODY_RX,
        _DROP_RX,
        _MAIN_RX,
        _TAG_RX,
    )

    def ref(html: pd.Series) -> pd.Series:
        s = html.map(
            lambda b: b.decode("utf-8", "replace") if b is not None else None)
        s = pd.Series(s, index=html.index, dtype="object")
        main = s.str.extract(_MAIN_RX, flags=re.S, expand=False)
        no_main = main.isna() & s.notna()
        if no_main.any():
            body = s[no_main].str.extract(_BODY_RX, flags=re.S, expand=False)
            body = body.fillna(s[no_main])
            body = body.str.replace(_DROP_RX, " ", regex=True,
                                    flags=re.S | re.I)
            main = main.copy()
            main[no_main] = body
        out = main.str.replace(_TAG_RX, "", regex=True)
        for raw, esc in reversed(_ESCAPES):
            out = out.str.replace(esc, raw, regex=False)
        return out.str.strip()

    cases = pd.Series([
        None, b"", b"<main>x</main>", b"<mainframe>y</mainframe>",
        b"<main a<main b>X</main>", b"<main >A</main><main>B</main>",
        b"<main no close", b"<main a>no close tag",
        b"<main a>x</main2> rest </main>",
        b"<body><script>s</script>T</body>",
        b"plain text no tags &amp; &lt;x&gt;",
        b"<main>&amp;lt; &quot;q&#39;</main>",
        b"\xff\xfe<main>bad utf</main>", b"<MAIN>case</MAIN>",
        b"<main>line1\nline2\n</main>",
    ] + [render_html(f"https://x.example.com/p/{i}", i,
                     gen_doc(i, CFG, DOMAINS)["text"], "en")
         for i in range(10)])
    a, b = ref(cases), extract_series(cases)
    assert (a.fillna("\0") == b.fillna("\0")).all()


def test_detect_matches_construction_goldens():
    """Detector output == splice-log golden for every doc (the detector
    and the golden generator are independent implementations)."""
    for i in range(CFG.n_docs):
        d = gen_doc(i, CFG, DOMAINS)
        got = detect_text(d["text"], BY_ID, RX)
        want = sorted(
            [(s["sig_id"], s["category"], s["begin"], s["end"], s["score"])
             for s in d["splices"]],
            key=lambda r: (r[2], r[0]),
        )
        assert got == want, f"doc {i}"


def test_detect_empty_and_clean():
    assert detect_text("", BY_ID, RX) == []
    assert detect_text("lorem ipsum dolor sit amet", BY_ID, RX) == []


def test_merge_gap_boundary():
    sig = SIGS[0]
    p = sig.pattern
    n = len(sig.tokens)
    full = span_score(sig.weight, n, n, True)
    # gap == MERGE_GAP → merged into one region
    sep = "x" * (MERGE_GAP - 2)  # ' ' + sep + ' ' = MERGE_GAP chars
    text = f"{p} {sep} {p}"
    out = detect_text(text, BY_ID, RX)
    assert len(out) == 1
    assert out[0][2] == 0 and out[0][3] == len(text)
    # gap > MERGE_GAP → two regions
    sep2 = "x" * (MERGE_GAP - 1)
    out2 = detect_text(f"{p} {sep2} {p}", BY_ID, RX)
    assert len(out2) == 2
    assert all(abs(o[4] - full) < 1e-12 for o in out2)


def test_truncated_prefix_scoring():
    sig = SIGS[0]
    toks = sig.tokens
    n = len(toks)
    text = " ".join(toks[:2])
    out = detect_text(text, BY_ID, RX)
    assert len(out) == 1
    assert out[0][4] == span_score(sig.weight, 2, n, True)
    # single anchor token alone: no match (min 2 tokens)
    assert detect_text(toks[0], BY_ID, RX) == []


def test_mangled_digit_penalty():
    sig = SIGS[0]
    toks = list(sig.tokens)
    toks[-1] = str((int(toks[-1]) + 1) % 10**len(toks[-1])).zfill(len(toks[-1]))
    out = detect_text(" ".join(toks), BY_ID, RX)
    assert len(out) == 1
    assert out[0][4] == span_score(sig.weight, len(toks), len(toks), False)


def test_threshold_is_inclusive():
    # the >=0.5 keep-filter is query-level; scores at exactly 0.5 are kept
    # (Detectron2 SCORE_THRESH_TEST semantics, train_watermarks.py:311)
    assert SCORE_THRESHOLD == 0.5
    assert span_score(1.0, 1, 2, True) == 0.5  # exactly at boundary


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_gen_doc_deterministic(doc_id):
    a = gen_doc(doc_id, CFG, DOMAINS)
    b = gen_doc(doc_id, CFG, DOMAINS)
    assert a == b


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=500))
def test_detect_never_crashes_on_arbitrary_text(text):
    out = detect_text(text, BY_ID, RX)
    for sid, cat, b, e, s in out:
        assert 0 <= b < e <= len(text)
        assert 0.0 < s <= 1.0


def test_detect_golden_at_large_sig_count():
    """The one anchor scan stays golden-exact on a 300-signature table."""
    big = make_signatures(300)
    det = build_detector(big)
    by_id = {s.sig_id: s for s in big}
    text = f"pad {big[7].pattern} mid {big[123].pattern} tail"
    got = detect_text(text, by_id, det)
    assert {g[0] for g in got} == {7, 123}
    assert all(g[4] == pytest.approx(by_id[g[0]].weight) for g in got)


def test_scan_semantics_token_boundary():
    """A candidate is a WHOLE whitespace-delimited token: anchors glued to
    punctuation or prefixing a longer token are not matches."""
    sig = SIGS[0]
    glued = f"see ({sig.pattern}) end"          # anchor mid-token: no match
    clean = f"see {sig.pattern} end"            # token-aligned: match
    assert detect_text(glued, BY_ID, RX) == []
    got = detect_text(clean, BY_ID, RX)
    assert len(got) == 1 and got[0][0] == sig.sig_id

    from __spark_entry__ import _ENTRY_SIGS

    by_id = {s.sig_id: s for s in _ENTRY_SIGS}
    frequent = ("batch window spark order key agg rows slow fast\ttable "
                "window sparkle the keys agg key agg row")
    cases = [
        ("keys agg row", []),  # anchor is a strict prefix of the token
        ("key agg row", [(0, "watermark", 0, 11, 0.9)]),
        ("see key", []),  # anchor ends the text; the confirm needs a 2nd token
        ("see key agg", [(0, "watermark", 4, 11, 0.6)]),
        ("key\tagg row", []),  # the confirm joins tokens with one space
        ("key\nagg row", []),
        # overlapping signatures; 'key agg rows' is a full match (only the
        # anchor must be a whole token); 'slow fast<TAB>table' and 'window
        # sparkle' are 2-token prefixes; 'keys' is no candidate
        (frequent, [(3, "text", 0, 18, 0.85), (2, "watermark", 6, 24, 0.7),
                    (0, "watermark", 25, 36, 0.9), (1, "text", 38, 47, 0.533333),
                    (2, "watermark", 54, 66, 0.466667),
                    (0, "watermark", 82, 93, 0.9)]),
    ]
    det = build_detector(_ENTRY_SIGS)
    for text, want in cases:
        assert detect_text(text, by_id, det) == want, text
    # the anchor scan itself fires on a whole token before a tab, a
    # newline or the end of text; only the confirm rejects those
    for text in ("key\tagg row", "key\nagg row", "see key"):
        assert [m.start() for m in det.scan_rx.finditer(text)] == [text.index("key")]
