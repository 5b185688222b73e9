"""Text-analysis column builders for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All pure built-in column expressions (JVM-side, codegen'd, no UDF) so
they run at full scan speed over 100 TB — these are per-document
derivations that should never leave WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("bigint")


def _count_occurrences(padded: Column, needle: str) -> Column:
    """#occurrences of `needle` via length arithmetic — pure codegen,
    no regex engine in the loop."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(" "))))
        / (len(needle) - 1)
    ).cast("bigint")


def stopword_hits(text: Column, word: str = "the") -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return _count_occurrences(padded, f" {word} ")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: stopword density + length
    band + punctuation sanity (the text analog of the reference's
    confidence scoring)."""
    n_tok = token_count(text)
    stop_ratio = stopword_hits(text) / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 20) & (n_tok <= 5000), 1.0).otherwise(0.5)
    return F.round(
        F.least(F.lit(1.0), (stop_ratio * 4 + 0.2) * len_ok), 4
    )


def lang_guess(text: Column) -> Column:
    """Marker-word language ID: argmax over per-language stopword hits.
    (n-gram heuristic; tiny marker sets keep it codegen-only)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = {
        "en": _count_occurrences(padded, " the "),
        "es": _count_occurrences(padded, " el "),
        "de": _count_occurrences(padded, " der "),
        "fr": _count_occurrences(padded, " le "),
        "pt": _count_occurrences(padded, " os "),
    }
    best = F.greatest(*hits.values())
    guess = F.lit("und")
    # reverse order => earlier languages win ties (deterministic)
    for lang in reversed(list(hits)):
        guess = F.when(hits[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the UTF-8 bytes (exact-dup key)."""
    return F.md5(text.cast("binary"))


def prefix_fingerprint(text: Column, n_tokens: int = 5) -> Column:
    """Head fingerprint: first-n-token key (catches boilerplate-headed
    duplicates that exact hashing misses)."""
    return F.array_join(F.slice(tokens_col(text), 1, n_tokens), " ")


# -- Gopher/C4-style repetition & boilerplate quality rules ----------------
# (Rae et al. 2021 "Scaling Language Models" §A1.1; Raffel et al. 2020 C4.)
# The standard LLM-corpus gates beyond the composite quality_score above:
# repetition (duplicate lines, top/duplicated n-grams) and boilerplate
# (symbol density, degenerate word lengths). Scalar rules are pure array
# expressions (codegen, zero shuffle); n-gram rules are one keyed
# aggregation per n — nothing quadratic, nothing collected.


def lines_col(text: Column, delim: str = "\n") -> Column:
    """Trimmed, non-empty line segments. ``delim`` is a LITERAL string
    (quoted with \\Q..\\E before hitting Java's regex split): every
    caller — the Gopher line rules, c4_clean's split-and-rejoin, and
    curate's user-supplied --c4-line-delim — means a literal separator,
    and the DuckDB oracles replay it with literal str_split; a regex
    delim like '|' or '.' would silently shred text per-character."""
    quoted = "\\Q" + delim.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    return F.filter(
        F.transform(F.split(text, quoted), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def dup_line_fraction(text: Column, delim: str = "\n") -> Column:
    """Gopher duplicate-line fraction: repeated lines / total lines.
    Pure array expressions — no shuffle, no UDF."""
    lines = lines_col(text, delim)
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round((n - F.size(F.array_distinct(lines))) / n, 4)
    )


def dup_line_char_fraction(text: Column, delim: str = "\n") -> Column:
    """Gopher duplicate-line CHARACTER fraction: characters inside
    repeated line occurrences / characters in all lines."""
    lines = lines_col(text, delim)
    tot = F.aggregate(lines, F.lit(0), lambda a, s: a + F.length(s))
    uniq = F.aggregate(F.array_distinct(lines), F.lit(0),
                       lambda a, s: a + F.length(s))
    return F.when(tot <= 0, F.lit(0.0)).otherwise(
        F.round((tot - uniq) / tot, 4)
    )


def symbol_word_ratio(text: Column) -> Column:
    """Gopher symbol-to-word ratio: '#' and non-overlapping '...'
    occurrences per whitespace token (boilerplate/markup density)."""
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell = (F.length(text)
             - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    return F.round(
        (n_hash + n_ell) / F.greatest(token_count(text), F.lit(1)), 4
    )


def mean_word_length(text: Column) -> Column:
    """Mean whitespace-token length (Gopher gates on 3..10)."""
    toks = tokens_col(text)
    return F.round(
        F.aggregate(toks, F.lit(0), lambda a, s: a + F.length(s))
        / F.greatest(F.size(toks), F.lit(1)),
        4,
    )


def ngram_stats(df: DataFrame, n: int, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-doc n-gram repetition stats: ``top{n}_frac`` = occurrences of
    the single most frequent word n-gram / total n-grams (Gopher's
    top-n-gram fraction, token-denominated), ``dup{n}_frac`` = n-grams
    whose gram occurs more than once / total n-grams. Docs with fewer
    than ``n`` tokens are absent (join back with 0.0 defaults —
    ``gopher_quality`` does). Two keyed aggregations, no UDF."""
    from ..operators.dedup import ordered_shingles

    cnt = (
        ordered_shingles(df, id_col, text_col, n)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy(id_col).agg(
        F.round(F.max("c") / F.sum("c"), 4).alias(f"top{n}_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 4
        ).alias(f"dup{n}_frac"),
    )


def gopher_quality(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", line_delim: str = "\n",
                   max_dup_line_frac: float = 0.30,
                   max_top2_frac: float = 0.20,
                   max_top3_frac: float = 0.18,
                   max_dup5_frac: float = 0.30,
                   max_symbol_ratio: float = 0.10,
                   min_mean_word_len: float = 2.0,
                   max_mean_word_len: float = 12.0) -> DataFrame:
    """All repetition/boilerplate rules + a composite ``keep`` gate
    (thresholds default to Gopher's, word-length band widened for
    short-word corpora). Scalar rules ride the scan; the three n-gram
    rules add one keyed aggregation each, broadcast-free left joins
    back on the doc key (absent = doc shorter than n tokens = 0.0)."""
    text = F.col(text_col)
    base = df.select(
        id_col,
        dup_line_fraction(text, line_delim).alias("dup_line_frac"),
        dup_line_char_fraction(text, line_delim).alias("dup_line_char_frac"),
        symbol_word_ratio(text).alias("symbol_ratio"),
        mean_word_length(text).alias("mean_word_len"),
    )
    # Measured note (r8): fusing the three n-gram passes into one
    # tagged explode (array-of-structs over a flatten of per-n
    # transforms) was tried and REVERTED — the nested higher-order
    # struct expression evaluates interpreted and cost ~7x more than
    # three codegen'd posexplode passes when all columns are
    # materialized. Three cheap scans beat one expensive one here.
    for n in (2, 3, 5):
        base = base.join(ngram_stats(df, n, id_col, text_col), id_col, "left")
    zeroed = [F.coalesce(F.col(c), F.lit(0.0)).alias(c)
              for c in ("top2_frac", "dup2_frac", "top3_frac", "dup3_frac",
                        "top5_frac", "dup5_frac")]
    out = base.select(
        id_col, "dup_line_frac", "dup_line_char_frac", "symbol_ratio",
        "mean_word_len", *zeroed,
    )
    return out.withColumn(
        "keep",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top2_frac") <= max_top2_frac)
        & (F.col("top3_frac") <= max_top3_frac)
        & (F.col("dup5_frac") <= max_dup5_frac)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len),
    )


# -- Gopher document-level gates (the non-repetition half) -----------------
# (Rae et al. 2021 §A1.1 continued.) gopher_quality above covers the
# repetition/boilerplate rules; these are the remaining document-level
# gates of the published rule set: word-count bounds, alphabetic-word
# fraction, minimum stop-word hits, and bullet/ellipsis line ratios.
# All pure scalar array expressions — zero shuffle, they ride the scan.

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of whitespace tokens containing at least one alphabetic
    character (Gopher keeps docs with >= 0.80)."""
    toks = tokens_col(text)
    return F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        / F.greatest(F.size(toks), F.lit(1)),
        4,
    )


def stopword_count(text: Column,
                   words: tuple[str, ...] = GOPHER_STOPWORDS) -> Column:
    """#tokens (lower-cased, exact) in the stop-word set — Gopher
    requires at least 2 hits from its 8-word English set."""
    toks = tokens_col(text)
    return F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*words))
    ).cast("bigint")


def bullet_line_fraction(text: Column, delim: str = "\n",
                         bullets: tuple[str, ...] = ("•", "-", "*")) -> Column:
    """Fraction of lines starting with a bullet marker (Gopher drops
    docs where > 0.90 of lines are bulleted)."""
    lines = lines_col(text, delim)

    def _is_bullet(s: Column) -> Column:
        cond = s.startswith(bullets[0])
        for b in bullets[1:]:
            cond = cond | s.startswith(b)
        return cond

    return F.round(
        F.size(F.filter(lines, _is_bullet))
        / F.greatest(F.size(lines), F.lit(1)),
        4,
    )


def ellipsis_line_fraction(text: Column, delim: str = "\n") -> Column:
    """Fraction of lines ending with an ellipsis (Gopher drops docs
    where > 0.30 of lines trail off)."""
    lines = lines_col(text, delim)
    return F.round(
        F.size(F.filter(lines,
                        lambda s: s.endswith("...") | s.endswith("…")))
        / F.greatest(F.size(lines), F.lit(1)),
        4,
    )


def gopher_gates_keep(text: Column, line_delim: str = "\n",
                      min_words: int = 50, max_words: int = 100_000,
                      min_alpha_frac: float = 0.80, min_stopwords: int = 2,
                      max_bullet_frac: float = 0.90,
                      max_ellipsis_frac: float = 0.30) -> Column:
    """The composite document-level keep gate as ONE boolean column —
    for inline ``where()`` use in pipelines (no join, rides the scan);
    ``gopher_gates`` below returns the per-rule metrics for auditing."""
    return (
        token_count(text).between(min_words, max_words)
        & (alpha_word_fraction(text) >= min_alpha_frac)
        & (stopword_count(text) >= min_stopwords)
        & (bullet_line_fraction(text, line_delim) <= max_bullet_frac)
        & (ellipsis_line_fraction(text, line_delim) <= max_ellipsis_frac)
    )


def gopher_gates(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", line_delim: str = "\n",
                 min_words: int = 50, max_words: int = 100_000,
                 min_alpha_frac: float = 0.80, min_stopwords: int = 2,
                 max_bullet_frac: float = 0.90,
                 max_ellipsis_frac: float = 0.30) -> DataFrame:
    """The document-level Gopher gates + composite ``keep`` flag
    (thresholds default to the paper's). Complements ``gopher_quality``
    (repetition rules); together they are the full published rule set.
    Every column is a codegen'd scalar expression over the scan — at
    10^12 docs this is a zero-shuffle, filter-pushdown-friendly stage."""
    text = F.col(text_col)
    return df.select(
        id_col,
        token_count(text).alias("n_words"),
        alpha_word_fraction(text).alias("alpha_word_frac"),
        stopword_count(text).alias("stopword_cnt"),
        bullet_line_fraction(text, line_delim).alias("bullet_line_frac"),
        ellipsis_line_fraction(text, line_delim).alias("ellipsis_line_frac"),
    ).withColumn(
        "keep",
        F.col("n_words").between(min_words, max_words)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("stopword_cnt") >= min_stopwords)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac),
    )


# -- C4 line-cleaning transform (Raffel et al. 2020 §2.2) ------------------


def c4_clean(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", line_delim: str = "\n",
             min_line_words: int = 3, min_lines_kept: int = 3,
             require_terminal_punct: bool = True,
             banned_line_words: tuple[str, ...] = ("javascript",),
             banned_doc_phrases: tuple[str, ...] = ("lorem ipsum", "{"),
             ) -> DataFrame:
    """C4's line-level cleaning re-expressed as one pure-projection
    transform: keep only lines with >= ``min_line_words`` words,
    (optionally) ending in terminal punctuation, and not containing a
    banned word; rebuild ``clean_text`` from the survivors; flag the
    whole doc ``keep=false`` when it contains a banned phrase or too
    few lines survive. ``line_delim`` is treated as a literal string
    (split AND re-join). Zero shuffle — a scan-side rewrite stage that
    runs ahead of dedup/tokenization in a corpus pipeline."""
    text = F.col(text_col)
    lines = lines_col(text, line_delim)

    def _keep_line(s: Column) -> Column:
        cond = F.size(F.split(s, r"\s+")) >= min_line_words
        if require_terminal_punct:
            cond = cond & s.rlike("[.!?”\"]$")
        for w in banned_line_words:
            cond = cond & ~F.lower(s).contains(w.lower())
        return cond

    kept = F.filter(lines, _keep_line)
    doc_ok = F.lit(True)
    for p in banned_doc_phrases:
        doc_ok = doc_ok & ~F.lower(text).contains(p.lower())
    return df.select(
        id_col,
        F.array_join(kept, line_delim).alias("clean_text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        (doc_ok & (F.size(kept) >= min_lines_kept)).alias("keep"),
    )


def lm_unigram_vocab(ref: DataFrame, vocab_size: int = 4096,
                     text_col: str = "text") -> DataFrame:
    """Top-``vocab_size`` unigram frequency table over a reference
    corpus — the model half of the CCNet-style LM quality gate (Wenzek
    et al. 2020 score with a KenLM 5-gram; this engine ships the
    unigram analog, which needs no external model artifact). The
    tie-break (count DESC, token ASC) makes the vocabulary cut
    deterministic and engine-portable. Returns (tok, cnt)."""
    return (
        ref.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(vocab_size)
    )


def lm_quality(docs: DataFrame, ref: DataFrame, vocab_size: int = 4096,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document language-model quality score: mean negative log
    likelihood under an add-one-smoothed unigram LM fit on ``ref``
    (CCNet's perplexity gate, unigram edition). For vocabulary V with
    in-vocab total T, p(tok) = (cnt + 1) / (T + |V| + 1); out-of-vocab
    tokens get the floor 1 / (T + |V| + 1) — gibberish and
    boilerplate-free spam score high (worse), fluent prose low.

    100 TB shape: the vocab is bounded (``vocab_size`` rows) and
    BROADCAST, so scoring is explode -> broadcast hash join -> one
    partial-aggregated shuffle on the doc key; the corpus text itself
    never shuffles, and there is no UDF in the path — the whole score
    is codegen'd JVM expression work. Returns
    (id_col, n_tokens, avg_nll) with avg_nll rounded to 4 decimals."""
    vocab = F.broadcast(lm_unigram_vocab(ref, vocab_size, text_col))
    totals = F.broadcast(
        vocab.agg(F.sum("cnt").alias("_t"),
                  F.count(F.lit(1)).alias("_v")))
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    denom = F.col("_t") + F.col("_v") + F.lit(1.0)
    nll = -F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1) / denom)
    return (
        toks.join(vocab, "tok", "left")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
        )
    )


@F.udtf(returnType="chunk_idx int, chunk string, n_tokens int")
class ChunkText:
    """Fixed-size token chunking with overlap — the LLM-corpus
    window operator (context-length packing). One doc row expands
    to ceil(n_tok / step) chunk rows of ``chunk_tokens`` tokens,
    consecutive chunks overlapping by chunk_tokens - step. Register
    with ``spark.udtf.register`` and call via LATERAL; fan-out is
    oracle-checked (driver query q54)."""

    def eval(self, text: str, chunk_tokens: int, step: int):
        # reachable straight from SQL (LATERAL wmd_chunk_text(t, 32, 0));
        # step <= 0 would loop the executor task forever — raise instead
        if chunk_tokens is None or chunk_tokens < 1:
            raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
        if step is None or step < 1:
            raise ValueError(f"step must be >= 1, got {step}")
        if text is None:
            return
        toks = text.split()
        i, s = 0, 0
        while s < len(toks):
            part = toks[s:s + chunk_tokens]
            yield (i, " ".join(part), len(part))
            i += 1
            s += step
