"""Pure-Python core semantics: deterministic hashing, signature model,
HTML templating/extraction, and detection (match → merge → score).

These are the spec-level functions; the flagship calls them from its
one fused Python pass (``plans.flagship.detection_rows_fused``) and the
fixture generator from ``fixtures.py``. Keeping them pure makes that
pass trivially testable and guarantees partitioning-invariance (the
reference is only reproducible single-threaded because it never seeds
``random`` — generate_dataset.py:44-67;
here every pseudo-random choice is ``stable_hash(seed, key, field)``).

Detection semantics mirror the reference dataflow (SURVEY.md §2.2/2.4):
  threshold → dilate → findContours → bbox min/max   (train_watermarks.py:63-79)
becomes
  regex match → merge spans with gap <= MERGE_GAP → span begin/end min/max
with a confidence score per region and the >=0.5 keep-filter applied at
query level (train_watermarks.py:311).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Deterministic hashing (replaces unseeded random.* in the reference)
# ---------------------------------------------------------------------------

_HASH_SPACE = 2**64


def stable_hash(*parts: object) -> int:
    """64-bit deterministic hash of the parts; basis of all fixture
    randomness, independent of process, partition, and platform."""
    payload = "\x1f".join(str(p) for p in parts).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "big")


def stable_unit(*parts: object) -> float:
    """Deterministic float in [0, 1)."""
    return stable_hash(*parts) / _HASH_SPACE


# ---------------------------------------------------------------------------
# Signature model (analog of the logo/word set, generate_dataset.py:111-113)
# ---------------------------------------------------------------------------

# Signature vocabulary — disjoint from DOC_VOCAB below so matches are
# unambiguous by construction (the analog of logos being visually distinct
# from photos).
SIG_VOCAB = [
    "stampmark", "protected", "copyrighted", "sample", "preview",
    "licensed", "restricted", "proofcopy", "draftonly", "evaluation",
    "trialcopy", "notforsale", "confidential", "embargoed", "internal",
]

MERGE_GAP = 8  # chars; the 3x3-dilation analog (train_watermarks.py:65-66)
SCORE_THRESHOLD = 0.5  # keep filter (train_watermarks.py:311)
MANGLED_PENALTY = 0.9  # digit-mangled variant confidence multiplier


@dataclass(frozen=True)
class Signature:
    sig_id: int
    pattern: str  # full canonical phrase, space-separated tokens
    category: str  # 'watermark' | 'text' (train_watermarks.py:231)
    weight: float  # base confidence in (0.4, 1.0]
    valid_from_offset_s: int  # staggered validity (stream-stream join tests)

    @property
    def tokens(self) -> list[str]:
        return self.pattern.split(" ")


def make_signatures(n_sigs: int = 25, seed: int = 42) -> list[Signature]:
    """Deterministic signature set. Pattern = unique anchor token +
    1-3 vocab tokens + one digit token (3-5 digits)."""
    sigs = []
    for i in range(n_sigs):
        n_mid = 1 + stable_hash(seed, i, "nmid") % 3  # 1..3 vocab tokens
        mid = [
            SIG_VOCAB[stable_hash(seed, i, "mid", k) % len(SIG_VOCAB)]
            for k in range(n_mid)
        ]
        n_digits = 3 + stable_hash(seed, i, "nd") % 3  # 3..5 digits
        digits = "".join(
            str(stable_hash(seed, i, "d", k) % 10) for k in range(n_digits)
        )
        tokens = [f"wm{i:03d}sig", *mid, digits]
        weight = round(0.4 + 0.6 * ((stable_hash(seed, i, "w") % 1000) / 1000.0), 4)
        sigs.append(
            Signature(
                sig_id=i,
                pattern=" ".join(tokens),
                category="watermark" if i % 2 == 0 else "text",
                weight=weight,
                valid_from_offset_s=int(stable_unit(seed, i, "vf") * 3600),
            )
        )
    return sigs


def span_score(weight: float, n_matched: int, n_tokens: int, digit_exact: bool) -> float:
    """Shared confidence formula: weight x matched-token fraction x mangle
    penalty. Both the detector and the golden generator call this so the
    spec constant lives in exactly one place."""
    s = weight * (n_matched / n_tokens)
    if not digit_exact:
        s *= MANGLED_PENALTY
    return round(s, 6)


# ---------------------------------------------------------------------------
# Detection: combined regex, prefix-tolerant, digit-wildcarded
# ---------------------------------------------------------------------------


def _sig_regex(sig: Signature) -> str:
    """Regex matching >=2-token prefixes of the pattern, digits wildcarded.

    Nested greedy optional groups prefer the longest match (the text analog
    of the detector head proposing the maximal region)."""
    toks = sig.tokens
    parts = []
    for t in toks:
        parts.append(rf"\d{{{len(t)}}}" if t.isdigit() else re.escape(t))
    # mandatory first two tokens, optional greedy tail
    rx = parts[0] + " " + parts[1]
    tail = ""
    for p in reversed(parts[2:]):
        tail = f"(?: {p}{tail})?"
    return rx + tail


# Measured crossover (~350-word docs): probe scales linearly in n_sigs
# (45 us/doc @25 → 148 @100 → 6,640 @5k); token scan is flat
# (~120-130 us/doc at any count). Re-measured round 3: they cross at
# ~80-90 signatures (probe slope ~1.4 us/sig on this corpus shape).
_TOKEN_SCAN_THRESHOLD = 80
_TOKEN_RE_SCAN = re.compile(r"\S+")


class CompiledDetector:
    """Per-signature anchored matchers behind one of two pre-scan
    strategies, picked by signature count (the hot path at 100 TB):

    - ``probes`` (small sets): for each signature, find occurrences of
      its first token with ``str.find`` (memchr-speed), then confirm
      with the signature's anchored regex at that position. ~10x faster
      than a regex alternation, but cost is O(n_sigs × doc_len).
    - ``token scan`` (>= ``_TOKEN_SCAN_THRESHOLD`` sigs): the
      Aho-Corasick-shaped single pass — tokenize the doc ONCE, hash each
      token into an anchor→signatures dict, confirm hits with the same
      per-signature regex. Cost is O(doc_tokens) + O(hits), flat in
      n_sigs — the multi-pattern scan that keeps a >1k-signature table
      from dominating the pipeline.

    Both confirm with identical regexes, require the anchor to start at
    a token boundary (start-of-text or preceded by whitespace), and
    honor the same resume-after-match rule — results are identical on
    ANY input, so crossing the threshold can never change detections
    (t:test_token_scan_equals_probe_scan).

    Token model (spec decision): a token boundary is WHITESPACE, not \\w
    — '(wm003sig tok 123' does not match. This is deliberate and
    engine-wide: every text operator here (token_count, shingles,
    chunking, winnowing) splits on \\s+, the golden fixtures splice
    signatures at whitespace token positions, and the SQL oracles (q23,
    q28) replay exactly this rule. The reference has no text analog to
    settle it (its detector is visual — train_watermarks.py:312); a
    \\w-boundary variant would only add matches on punctuation-glued
    anchors at the cost of three divergent tokenizations in one engine."""

    __slots__ = ("sigs", "probes", "anchor_map", "use_token_scan", "scan_rx")

    def __init__(self, signatures: list[Signature],
                 token_scan_threshold: int = _TOKEN_SCAN_THRESHOLD):
        self.sigs = list(signatures)
        self.probes = [
            (sig, sig.tokens[0], re.compile(_sig_regex(sig))) for sig in signatures
        ]
        self.anchor_map: dict[str, list] = {}
        for sig, anchor, rx in self.probes:
            self.anchor_map.setdefault(anchor, []).append((sig, rx))
        self.use_token_scan = len(signatures) >= token_scan_threshold
        # Candidate pre-scan for the token path: ONE combined regex over
        # all anchor literals at a token boundary. sre compiles a literal
        # alternation with a first-character charset prefix, so the scan
        # skips through non-candidate text at C speed instead of pushing
        # every token through a Python-level dict lookup (~5-10x less
        # Python work per doc; measured 176 -> ~35 us/doc on the bench
        # corpus). Candidate positions are a SUPERSET of the tokens the
        # per-token scan would look up (an anchor that is a strict
        # prefix of the doc token also fires here); the whole-token
        # anchor_map lookup below restores exact token-equality
        # semantics, so detections are identical on any input.
        # NOTE: no token-boundary assertion here — a leading lookbehind
        # group defeats sre's literal-prefix/charset fast-skip and the
        # scan degrades to per-position interpretation. The boundary is
        # re-checked in Python per candidate instead (candidates are
        # rare; the skip loop is the hot part).
        self.scan_rx = (
            re.compile(
                "|".join(sorted(map(re.escape, self.anchor_map))))
            if self.anchor_map else None
        )


def build_detector(signatures: list[Signature]) -> CompiledDetector:
    return CompiledDetector(signatures)


def _raw_matches_probe(text: str, detector: CompiledDetector) -> list:
    """str.find pre-probe per signature (small signature sets)."""
    raw: list[tuple[int, int, int, float]] = []
    find = text.find
    for sig, anchor, rx in detector.probes:
        pos = find(anchor)
        if pos == -1:
            continue
        n_tokens = len(sig.tokens)
        last_tok = sig.tokens[-1]
        while pos != -1:
            # token-start boundary: a mid-token anchor occurrence (e.g.
            # '(wm003sig') is NOT a match — keeps probe and token-scan
            # semantics identical on any input, not just fixtures
            if pos > 0 and not text[pos - 1].isspace():
                pos = find(anchor, pos + 1)
                continue
            m = rx.match(text, pos)
            if m is None:
                pos = find(anchor, pos + 1)
                continue
            raw.append(_scored(sig, m, n_tokens, last_tok))
            pos = find(anchor, m.end())
    return raw


def _raw_matches_token_scan(text: str, detector: CompiledDetector) -> list:
    """Single combined-regex candidate pass + anchor dict (large
    signature sets). ``scan_rx`` finds anchor occurrences at token
    boundaries at C speed; the whole doc token at each candidate is
    then looked up in ``anchor_map`` (exact token equality — identical
    candidate set to the historical per-token loop, in the same order),
    and ``last_end`` reproduces the probe scanner's resume-after-match
    rule (never re-fire a signature inside its own previous match).
    Equivalence note: an alternation match never spans whitespace
    (anchors are single tokens), so it can never consume past the next
    token start — every anchor_map token position is visited."""
    raw: list[tuple[int, int, int, float]] = []
    scan_rx = detector.scan_rx
    if scan_rx is None:
        return raw
    anchor_map = detector.anchor_map
    tok_at = _TOKEN_RE_SCAN.match
    last_end: dict[int, int] = {}
    for c_m in scan_rx.finditer(text):
        pos = c_m.start()
        # token-start boundary (same rule as the probe scanner): a
        # mid-token anchor occurrence is not a candidate
        if pos > 0 and not text[pos - 1].isspace():
            continue
        entries = anchor_map.get(tok_at(text, pos).group())
        if entries is None:
            continue
        for sig, rx in entries:
            if pos < last_end.get(sig.sig_id, 0):
                continue
            m = rx.match(text, pos)
            if m is None:
                continue
            raw.append(_scored(sig, m, len(sig.tokens), sig.tokens[-1]))
            last_end[sig.sig_id] = m.end()
    return raw


def _scored(sig: Signature, m: re.Match, n_tokens: int, last_tok: str):
    matched = m.group(0)
    n_matched = matched.count(" ") + 1
    if n_matched == n_tokens:
        digit_exact = matched.rsplit(" ", 1)[1] == last_tok
    else:
        digit_exact = True  # digit token not part of a truncated match
    return (sig.sig_id, m.start(), m.end(),
            span_score(sig.weight, n_matched, n_tokens, digit_exact))


def detect_text(
    text: str,
    signatures_by_id: dict[int, Signature],
    detector: CompiledDetector,
) -> list[tuple[int, str, int, int, float]]:
    """Match → merge adjacent same-signature spans (gap <= MERGE_GAP) →
    score. Returns [(sig_id, category, begin, end, score)], begin-sorted.

    This is the engine's detector head — the analog of
    ``DefaultPredictor`` + contour/bbox extraction
    (train_watermarks.py:312,320 + 63-79) — with NO thresholding here:
    the >=0.5 filter is a query-level predicate (train_watermarks.py:311).
    """
    if not text:
        return []
    if detector.use_token_scan:
        raw = _raw_matches_token_scan(text, detector)
    else:
        raw = _raw_matches_probe(text, detector)
    # merge same-signature spans whose gap <= MERGE_GAP (dilation analog)
    raw.sort(key=lambda r: (r[0], r[1]))
    merged: list[list] = []
    for sid, b, e, s in raw:
        if merged and merged[-1][0] == sid and b - merged[-1][2] <= MERGE_GAP:
            merged[-1][2] = max(merged[-1][2], e)
            merged[-1][3] = max(merged[-1][3], s)
        else:
            merged.append([sid, b, e, s])
    merged.sort(key=lambda r: (r[1], r[0]))
    return [
        (sid, signatures_by_id[sid].category, b, e, s) for sid, b, e, s in merged
    ]


# ---------------------------------------------------------------------------
# HTML template + extraction (analog of image encode/decode, S3 in SURVEY §2.1)
# ---------------------------------------------------------------------------

_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")]


def escape_html(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


def unescape_html(s: str) -> str:
    # reverse order: &amp; last, so '&amp;lt;' round-trips correctly
    for raw, esc in reversed(_ESCAPES):
        s = s.replace(esc, raw)
    return s


def render_html(url: str, doc_id: int, text: str, lang: str) -> bytes:
    """Deterministic page template: boilerplate chrome around <main>.
    What ``extract_text`` must reduce back to ``text`` byte-identically
    (BASELINE.json input_hint invariant)."""
    nav = '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
    return (
        f'<html lang="{lang}"><head><title>doc {doc_id}</title>'
        f'<meta charset="utf-8"/>'
        f"<style>body{{margin:0}}</style>"
        f"<script>var page={doc_id};</script></head>"
        f"<body>{nav}<main>{escape_html(text)}</main>"
        f'<footer>&copy; <a href="{url}">source</a></footer></body></html>'
    ).encode("utf-8")


_MAIN_RE = re.compile(r"<main[^>]*>(.*?)</main>", re.S)
_DROP_BLOCKS_RE = re.compile(
    r"<(script|style|nav|footer|header|aside)[^>]*>.*?</\1>", re.S | re.I
)
_TAG_RE = re.compile(r"<[^>]+>")
_BODY_RE = re.compile(r"<body[^>]*>(.*?)</body>", re.S)


def extract_text_from_html(html: bytes | None) -> str | None:
    """Boilerplate-removing HTML→text extraction (pure function).

    Prefers the <main> element (content zone); falls back to <body> minus
    script/style/nav/footer/header/aside, then whole document. Entity
    unescape, outer whitespace strip. This replaces the reference's image
    decode step (generate_dataset.py:184) as the payload decoder.
    """
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    m = _MAIN_RE.search(s)
    if m:
        inner = m.group(1)
    else:
        b = _BODY_RE.search(s)
        inner = b.group(1) if b else s
        inner = _DROP_BLOCKS_RE.sub(" ", inner)
    inner = _TAG_RE.sub("", inner)
    return unescape_html(inner).strip()
