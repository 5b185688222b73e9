"""Unit tests for the pure core semantics (no Spark)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from watermark_detector_spark.fixtures import FixtureConfig, _domains, gen_doc
from watermark_detector_spark.functions.core import (
    MERGE_GAP,
    SCORE_THRESHOLD,
    build_detector,
    detect_text,
    extract_text_from_html,
    make_signatures,
    render_html,
    span_score,
    stable_hash,
)

CFG = FixtureConfig(n_docs=300)
DOMAINS = _domains(CFG)
SIGS = CFG.signatures
BY_ID = {s.sig_id: s for s in SIGS}
RX = build_detector(SIGS)


def test_stable_hash_deterministic():
    assert stable_hash(42, 1, "x") == stable_hash(42, 1, "x")
    assert stable_hash(42, 1, "x") != stable_hash(42, 1, "y")


def test_extract_roundtrip_all_docs():
    """Byte-identity invariant (BASELINE.json input_hint): extraction of
    the rendered html must reproduce the original text exactly."""
    for i in range(CFG.n_docs):
        d = gen_doc(i, CFG, DOMAINS)
        assert extract_text_from_html(d["html"]) == d["text"], f"doc {i}"


def test_extract_handles_entities_and_fallback():
    html = render_html("https://x.example.com/p/1", 1, 'a & b < c > "d"', "en")
    assert extract_text_from_html(html) == 'a & b < c > "d"'
    # no <main>: body minus boilerplate blocks
    raw = b"<html><body><nav>chrome</nav><p>hello world</p><script>x=1</script></body></html>"
    assert extract_text_from_html(raw) == "hello world"
    assert extract_text_from_html(None) is None


def test_extract_find_based_equals_regex_reference():
    """r8 optimization pin: the str.find-based <main>/<body> content
    extraction and the '&'-gated unescape must stay byte-identical to
    the historical regex reference on adversarial tag layouts (prefix
    tags, decoy closers, missing closers, multiple blocks, entities,
    invalid utf-8)."""
    import re

    import pandas as pd

    from watermark_detector_spark.functions.core import _ESCAPES
    from watermark_detector_spark.functions.extract import (
        _BODY_RX,
        _DROP_RX,
        _MAIN_RX,
        _TAG_RX,
        extract_series,
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


def test_token_scan_equals_probe_scan():
    """The two pre-scan strategies (str.find probes vs single-pass
    token-dict scan) must produce identical detections on every fixture
    doc — the equivalence that lets the detector switch to the flat-in-
    n_sigs scanner for above-threshold (80+) signature tables."""
    from watermark_detector_spark.functions.core import CompiledDetector

    det_probe = CompiledDetector(SIGS, token_scan_threshold=10**9)
    det_token = CompiledDetector(SIGS, token_scan_threshold=0)
    assert not det_probe.use_token_scan and det_token.use_token_scan
    n_docs_with_hits = 0
    for i in range(CFG.n_docs):
        d = gen_doc(i, CFG, DOMAINS)
        a = detect_text(d["text"], BY_ID, det_probe)
        b = detect_text(d["text"], BY_ID, det_token)
        assert a == b, f"doc {i}"
        n_docs_with_hits += bool(a)
    assert n_docs_with_hits > 10  # the comparison actually exercised hits


def test_token_scan_default_kicks_in_at_large_sig_count():
    """build_detector auto-selects the flat scanner for big tables and
    stays golden-exact there (300 sigs >= threshold 80)."""
    big = make_signatures(300)
    det = build_detector(big)
    assert det.use_token_scan
    by_id = {s.sig_id: s for s in big}
    text = f"pad {big[7].pattern} mid {big[123].pattern} tail"
    got = detect_text(text, by_id, det)
    assert {g[0] for g in got} == {7, 123}
    assert all(g[4] == pytest.approx(by_id[g[0]].weight) for g in got)


def test_scan_semantics_token_boundary():
    """Anchors glued to punctuation are NOT matches, identically in both
    scanners — crossing the threshold can never change detections."""
    from watermark_detector_spark.functions.core import CompiledDetector

    sig = SIGS[0]
    det_probe = CompiledDetector(SIGS, token_scan_threshold=10**9)
    det_token = CompiledDetector(SIGS, token_scan_threshold=0)
    glued = f"see ({sig.pattern}) end"          # anchor mid-token: no match
    clean = f"see {sig.pattern} end"            # token-aligned: match
    for det in (det_probe, det_token):
        assert detect_text(glued, BY_ID, det) == []
        got = detect_text(clean, BY_ID, det)
        assert len(got) == 1 and got[0][0] == sig.sig_id
    assert (detect_text(glued, BY_ID, det_probe)
            == detect_text(glued, BY_ID, det_token))
