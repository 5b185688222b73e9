"""Pure-Python core semantics: deterministic hashing, signature model,
HTML templating, and detection (match → merge → score).

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


def signatures_from_df(sig_df) -> list[Signature]:
    """Collect the (small) signature dimension DataFrame to plain objects."""
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


class CompiledDetector:
    """Every signature's anchored matcher behind ONE candidate scan.

    ``scan_rx`` is a single combined regex over the anchor tokens (each
    signature's first token), each required to end the doc token:
    ``(?:a1|a2|...)(?!\\S)``. sre compiles a literal alternation with a
    first-character charset prefix, so the scan skips non-candidate
    text at C speed; the trailing lookahead keeps that fast skip (a
    leading lookbehind would defeat it) and makes every match a whole
    doc token, so ``anchor_map`` is keyed by the match itself. The
    token-start half of the boundary is re-checked in Python per
    candidate (candidates are rare; the skip loop is the hot part), and
    each candidate is confirmed with its signature's anchored regex.
    Cost is O(doc_len) + O(hits), flat in the number of signatures.

    Token model (spec decision): a token boundary is WHITESPACE, not \\w
    — '(wm003sig tok 123' does not match. This is deliberate and
    engine-wide: every text operator here (token_count, shingles,
    chunking, winnowing) splits on \\s+, the golden fixtures splice
    signatures at whitespace token positions, and the SQL oracles (q23,
    q28) replay exactly this rule. The reference has no text analog to
    settle it (its detector is visual — train_watermarks.py:312); a
    \\w-boundary variant would only add matches on punctuation-glued
    anchors at the cost of three divergent tokenizations in one engine."""

    __slots__ = ("anchor_map", "scan_rx")

    def __init__(self, signatures: list[Signature]):
        self.anchor_map: dict[str, list] = {}
        for sig in signatures:
            self.anchor_map.setdefault(sig.tokens[0], []).append(
                (sig, re.compile(_sig_regex(sig))))
        self.scan_rx = (
            re.compile(r"(?:%s)(?!\S)"
                       % "|".join(sorted(map(re.escape, self.anchor_map))))
            if self.anchor_map else None
        )


def build_detector(signatures: list[Signature]) -> CompiledDetector:
    return CompiledDetector(signatures)


def _raw_matches(text: str, detector: CompiledDetector) -> list:
    """Whole-token anchor candidates → per-signature anchored confirm.
    ``last_end`` is the resume-after-match rule: a signature never
    re-fires inside its own previous match."""
    raw: list[tuple[int, int, int, float]] = []
    scan_rx = detector.scan_rx
    if scan_rx is None:
        return raw
    anchor_map = detector.anchor_map
    last_end: dict[int, int] = {}
    for c_m in scan_rx.finditer(text):
        pos = c_m.start()
        # token-start boundary: a mid-token anchor occurrence (e.g.
        # '(wm003sig') is not a candidate
        if pos > 0 and not text[pos - 1].isspace():
            continue
        for sig, rx in anchor_map[c_m.group()]:
            if pos < last_end.get(sig.sig_id, 0):
                continue
            m = rx.match(text, pos)
            if m is None:
                continue
            raw.append(_scored(sig, m))
            last_end[sig.sig_id] = m.end()
    return raw


def _scored(sig: Signature, m: re.Match):
    toks = sig.tokens
    matched = m.group(0)
    n_matched = matched.count(" ") + 1
    if n_matched == len(toks):
        digit_exact = matched.rsplit(" ", 1)[1] == toks[-1]
    else:
        digit_exact = True  # digit token not part of a truncated match
    return (sig.sig_id, m.start(), m.end(),
            span_score(sig.weight, n_matched, len(toks), digit_exact))


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
    raw = _raw_matches(text, detector)
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
# HTML template (analog of image encode, S3 in SURVEY §2.1)
# ---------------------------------------------------------------------------

_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")]


def escape_html(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


def render_html(url: str, doc_id: int, text: str, lang: str) -> bytes:
    """Deterministic page template: boilerplate chrome around <main>.
    What ``extract.extract_series`` must reduce back to ``text``
    byte-identically (BASELINE.json input_hint invariant)."""
    nav = '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
    return (
        f'<html lang="{lang}"><head><title>doc {doc_id}</title>'
        f'<meta charset="utf-8"/>'
        f"<style>body{{margin:0}}</style>"
        f"<script>var page={doc_id};</script></head>"
        f"<body>{nav}<main>{escape_html(text)}</main>"
        f'<footer>&copy; <a href="{url}">source</a></footer></body></html>'
    ).encode("utf-8")
