"""Deduplication operators for web-scale corpora: exact, prefix-key,
n-gram Jaccard, MinHash(+LSH), SimHash.

Design for 100 TB:
- exact/prefix dedup is a single hash shuffle on a short key (never on
  the full text);
- Jaccard is quadratic and exists as the small-scale oracle; the scale
  path is MinHash-LSH: shingle → per-band min-hash → bucket join, so
  candidate generation is linear + one shuffle on (band, minhash);
- SimHash gives a constant-size signature per doc for Hamming-distance
  blocking.

All implemented with built-in expressions (md5/min/explode) — the hash
functions are engine-portable (identical results in any SQL engine),
which is what makes these oracle-checkable against DuckDB.
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import prefix_fingerprint, tokens_col


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n_prefix: int = 5) -> DataFrame:
    """Group docs by a short prefix key; one shuffle on the key only."""
    return (
        df.select(
            F.col(id_col),
            prefix_fingerprint(F.col(text_col), n_prefix).alias("dup_key"),
        )
        .groupBy("dup_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def _shingles_expr(toks, n: int):
    """Word n-gram shingle array over a token-array column — THE shared
    shingle construction. Every producer of shingle keys (batch
    minhash_signatures via shingles(), winnowing via
    ordered_shingles(), the streaming near-dup gate via
    minhash_bands_col) must build byte-identical shingles or their
    LSH/fingerprint buckets silently desynchronize across paths; keep
    this single definition the only copy. Caller must guard
    size(toks) >= n (Spark's sequence() DESCENDS when stop < start)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]),
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle)."""
    toks = tokens_col(F.col(text_col))
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select(
            id_col,
            F.explode(
                F.array_distinct(_shingles_expr(F.col("_toks"), n))
            ).alias("shingle"),
        )
    )


def sized_shingles(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3) -> DataFrame:
    """``shingles`` + the per-doc distinct-shingle count as a third
    column: (id, shingle, n_sh), via a count() window over the exploded
    rows. Measured note (r8, do not "simplify"): deriving n_sh as
    F.size of the shingle array looks shuffle-free but regresses ~8x —
    Catalyst's projection collapse re-substitutes the higher-order
    shingle expression into every consumer, so size(arr) above the
    Generate re-evaluates the whole shingle transform PER EXPLODED ROW.
    The window pays one keyed Exchange+Sort on already-exploded narrow
    rows, which is cheap and scales with the shingle stream."""
    return shingles(df, id_col, text_col, n).withColumn(
        "n_sh", F.count(F.lit(1)).over(W.partitionBy(id_col)))


def jaccard_pairs(df: DataFrame, threshold: float = 0.5, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Pairwise n-gram Jaccard near-dup pairs (>= threshold).

    Quadratic in bucket size — the CORRECTNESS oracle. At scale, run
    minhash_lsh_candidates first and compute Jaccard only on candidate
    pairs.

    Measured note (r8, do not "optimize"): the sized-shingle table
    feeds both sides of the self-join as two separate subtrees (no
    ReuseExchange), but a lazy ``.persist()`` of it — the pattern that
    wins for ``minhash_lsh_candidates``'s 1-row/doc signature table —
    measured ~0.5 s WORSE here (interleaved noop A/B, median of 7):
    the cache holds the EXPLODED shingle stream, so the cache
    write+read overhead exceeds the saved second tokenize/shingle/
    window pass. Two passes stay the cheaper shape."""
    sized = sized_shingles(df, id_col, text_col, n)
    a = sized.select(F.col(id_col).alias("id_a"), "shingle",
                     F.col("n_sh").alias("n_a"))
    b = sized.select(F.col(id_col).alias("id_b"), "shingle",
                     F.col("n_sh").alias("n_b"))
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
        .select(
            "id_a", "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_bands_col(text, n_bands: int = 4, n: int = 3):
    """ROW-LOCAL banded minhash: array<string> of length ``n_bands``
    where element b is min over the doc's distinct word n-gram
    shingles of substr(md5(shingle), 8b+1, 8) — band b's hash is the
    b-th disjoint 8-hex slice of ONE md5 digest per shingle, the same
    signature family as ``minhash_signatures`` (each shingle hashed
    once, not once per band) — but as a pure column expression: no explode,
    no groupBy, ZERO shuffle, so it rides the scan and (critically) is
    usable on a STREAMING DataFrame without becoming a stateful
    aggregation. Empty array when the doc has fewer than ``n`` tokens.

    Catalyst note: ``text`` is referenced once; the shingle array is
    built inside one nested higher-order expression, so whole-stage
    codegen keeps it per-row scratch, never materialized."""
    if n_bands > 4:
        raise ValueError(
            "minhash band family slices the 32-hex md5 digest into "
            "disjoint 8-hex band hashes — max 4 bands (got %d)" % n_bands)
    toks = tokens_col(text)
    sh = F.array_distinct(_shingles_expr(toks, n))
    hs = F.transform(sh, lambda s: F.md5(s.cast("binary")))
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.array_min(
            F.transform(hs, lambda h: h.substr(b * 8 + 1, F.lit(8)))
        ),
    )
    # sequence(1, size-2) DESCENDS when size < n — guard to empty
    return F.when(F.size(toks) >= n, bands).otherwise(
        F.array().cast("array<string>"))


def minhash_signatures(df: DataFrame, n_bands: int = 4, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-(doc, band) min-hash over shingles: banded signature table.

    Hash family: band ``b``'s hash of a shingle is the ``b``-th disjoint
    8-hex slice of ONE md5 digest — ``substr(md5(shingle), 8b+1, 8)`` —
    so each shingle is hashed once, not once per band (4x less md5 work;
    the digest's 128 bits give four independent 32-bit minhash functions,
    and 32 bits is the standard MinHash width). Engine-portable: DuckDB
    replays it verbatim. Max 4 bands by construction.

    Shape note (measured, do not "simplify"): explode shingles + ONE
    two-phase groupBy(id) carrying ``n_bands`` min aggregates is the
    FAST form — md5 over exploded rows runs inside whole-stage codegen,
    partial aggregation folds all band minimums map-side in a single
    hash-agg pass (the historical explode-bands-then-group form pushed
    docs×shingles×bands rows through the pre-agg pipeline — 4x the
    rows for the same minimums), and the Exchange carries one row per
    doc; the (band, minhash) fan-out happens AFTER the aggregation on
    docs-sized data. The tempting zero-shuffle alternative (posexplode
    of ``minhash_bands_col``) is ~15x SLOWER at sf0.1: nested
    higher-order-function md5 evaluates interpreted per array element.
    ``minhash_bands_col`` exists for the STREAMING gate, where a
    pre-aggregation shuffle is semantically unusable, not as a batch
    optimization."""
    if n_bands > 4:
        raise ValueError(
            "minhash band family slices the 32-hex md5 digest into "
            "disjoint 8-hex band hashes — max 4 bands (got %d)" % n_bands)
    sh = shingles(df, id_col, text_col, n)
    mins = (
        sh.select(
            id_col, F.md5(F.col("shingle").cast("binary")).alias("_h"))
        .groupBy(id_col)
        .agg(*[
            F.min(F.col("_h").substr(F.lit(b * 8 + 1), F.lit(8))).alias(f"_m{b}")
            for b in range(n_bands)
        ])
    )
    return mins.select(
        id_col,
        F.posexplode(
            F.array(*[F.col(f"_m{b}") for b in range(n_bands)])
        ).alias("band", "minhash"),
    )


def minhash_lsh_candidates(df: DataFrame, n_bands: int = 4, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3) -> DataFrame:
    """LSH candidate pairs: docs sharing any band minimum. Linear scan +
    one shuffle on (band, minhash) — the 100 TB near-dup path.

    The signature table feeds BOTH sides of the self-join and
    ReuseExchange does not recognize the aliased subtrees as one, so it
    is persisted (lazily — no extra job: the join's first stage
    populates the cache, the second side reads it) rather than
    re-shingling the corpus twice. A few tens of bytes per doc,
    spill-safe, released by a finalizer when the result is dropped —
    same lifecycle discipline as ``_jaccard_confirm``."""
    sig = minhash_signatures(df, n_bands, id_col, text_col, n).persist()
    a = sig.select(F.col(id_col).alias("id_a"), "band", "minhash")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "minhash")
    out = (
        a.join(b, ["band", "minhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    weakref.finalize(out, _unpersist_quietly, sig)
    return out


def _jaccard_confirm(cand: DataFrame, a_docs: DataFrame, b_docs: DataFrame,
                     a_key: str, b_key: str, threshold: float,
                     id_col: str, text_col: str, n: int,
                     b_out: str | None = None) -> DataFrame:
    """THE exact-Jaccard-on-candidates confirm stage, shared by every
    candidate-generating dedup path (near_dup_pairs,
    incremental_near_dups) so the formula, rounding and threshold
    semantics cannot silently diverge between them. Both doc sides are
    LEFT SEMI-cut to the candidate ids BEFORE shingling — confirm cost
    tracks the candidate set, never the corpus (the per-doc shingle
    count is per-doc, so cutting does not change it). Returns
    (a_key, b_key, jaccard) at or above ``threshold``.

    ``cand`` is referenced THREE times below (both semi-joins plus the
    final join); it is the output of a banded-signature self-join —
    a shuffle plus distinct — so it is persisted and materialized ONCE
    here (tiny: two ids per candidate pair) and every downstream
    reference scans the cache. Without this the whole LSH candidate
    subplan re-executes per reference (ReuseExchange only dedupes
    identical exchange subtrees, not the join above them); measured
    +33%% on near_dup_pairs at sf0.1 when this was left lazy.

    Lifecycle: persist (NOT localCheckpoint — a checkpointed RDD stays
    pinned in executor storage for the session lifetime even after the
    result is dropped) + a ``weakref.finalize`` on the returned frame
    that unpersists when the caller releases it. persist keeps lineage,
    so an early unpersist can only cost recomputation, never
    correctness.

    ``b_out``: optional output name for ``b_key`` — the rename happens
    HERE, before the finalizer attaches, because a caller-side
    ``.withColumnRenamed`` would drop the only reference to this
    function's return value and fire the finalizer immediately
    (CPython refcounting), unpersisting the candidate cache before any
    action ran — silently restoring the recompute the persist exists
    to prevent."""
    cand = cand.persist()
    cand.count()  # materialize now: ONE evaluation of the LSH subplan
    caches = [cand]

    def _sized(docs: DataFrame, keys: list[str]):
        ids = cand.select(
            F.col(keys[0]).alias(id_col)) if len(keys) == 1 else (
            cand.select(F.col(keys[0]).alias(id_col))
            .unionAll(cand.select(F.col(keys[1]).alias(id_col))))
        cut = docs.join(ids.distinct(), id_col, "left_semi")
        return sized_shingles(cut, id_col, text_col, n)

    if a_docs is b_docs:
        # SELF-dedup (near_dup_pairs): both confirm sides are the same
        # docs — shingle + per-doc-count ONCE (cut to ids on either
        # side of a candidate pair) and alias it twice, instead of two
        # full shingle/window passes over the same corpus. persist: the
        # two downstream joins would otherwise each recompute it.
        sz = _sized(a_docs, [a_key, b_key]).persist()
        caches.append(sz)
        sa = sz.select(F.col(id_col).alias(a_key), "shingle",
                       F.col("n_sh").alias("n_a"))
        sb = sz.select(F.col(id_col).alias(b_key), "shingle",
                       F.col("n_sh").alias("n_b"))
    else:
        sa = _sized(a_docs, [a_key]).select(
            F.col(id_col).alias(a_key), "shingle",
            F.col("n_sh").alias("n_a"))
        sb = _sized(b_docs, [b_key]).select(
            F.col(id_col).alias(b_key), "shingle",
            F.col("n_sh").alias("n_b"))
    out = (
        cand.join(sa, a_key)
        .join(sb, [b_key, "shingle"])
        .groupBy(a_key, b_key)
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
        .select(
            a_key, b_key,
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )
    if b_out is not None:
        out = out.withColumnRenamed(b_key, b_out)
    for c in caches:
        weakref.finalize(out, _unpersist_quietly, c)
    return out


def _unpersist_quietly(df: DataFrame) -> None:
    """Release a cache when its consumer is garbage-collected; the
    session may already be stopped (interpreter exit), so never raise."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def near_dup_pairs(df: DataFrame, threshold: float = 0.5, n_bands: int = 4,
                   id_col: str = "doc_id", text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """THE production near-dup operator: MinHash-LSH candidate pairs,
    then exact n-gram Jaccard computed ONLY on candidates.

    Composition of ``minhash_lsh_candidates`` (linear + one shuffle on
    (band, minhash)) and the shared ``_jaccard_confirm`` stage
    restricted to the candidate set: intersection counts come from
    candidates ⋈ shingles(id_a) ⋈ shingles(id_b, same shingle) — work
    proportional to candidates × shingles-per-doc, never all-pairs.
    Same output contract as ``jaccard_pairs`` wherever LSH recall is 1
    (equivalence-tested); LSH can only MISS pairs, never fabricate
    them, so precision is exact by construction."""
    cand = minhash_lsh_candidates(df, n_bands, id_col, text_col, n)
    return _jaccard_confirm(cand, df, df, "id_a", "id_b", threshold,
                            id_col, text_col, n)


def ordered_shingles(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3) -> DataFrame:
    """Positional word n-gram shingles: (id, pos, shingle), pos 0-based
    in document order (NO distinct — winnowing needs the sequence)."""
    toks = tokens_col(F.col(text_col))
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select(
            id_col,
            F.posexplode(
                _shingles_expr(F.col("_toks"), n)
            ).alias("pos", "shingle"),
        )
    )


def winnow_fingerprints(df: DataFrame, n: int = 3, window: int = 4,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word n-gram, slide a
    ``window``-wide window over the hash sequence, keep each window's
    minimum; the DISTINCT selected hashes are the fingerprint set.
    Guarantees: any shared run of >= window+n-1 tokens between two docs
    shares at least one fingerprint, and the set is position-robust to
    local edits (unlike whole-doc md5). Docs with fewer than ``window``
    shingles keep the min hash of the single truncated window (pos 0),
    so short documents stay visible to fingerprint dedup instead of
    emitting nothing. Pure window expressions — one shuffle on the doc
    key, no UDF; oracle-checked (q55)."""
    sh = ordered_shingles(df, id_col, text_col, n).withColumn(
        "h", F.md5(F.col("shingle").cast("binary"))
    )
    w = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    # per-doc max(pos) as a window over the SAME partition the min-hash
    # window already shuffles on — no second scan, no extra join
    w_all = W.partitionBy(id_col)
    return (
        sh.withColumn("fp", F.min("h").over(w))
        .withColumn("_max_pos", F.max("pos").over(w_all))
        .where(F.col("pos")
               <= F.greatest(F.lit(0), F.col("_max_pos") - (window - 1)))
        .select(id_col, "fp")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            n_bits: int = 16) -> DataFrame:
    """Per-doc SimHash signature: majority vote over token-hash bits.
    Bit i of a token = parity of hex char i of md5(token) — portable
    across engines. Output: (id, simhash as '0'/'1' string)."""
    tok = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok")
    ).select(id_col, F.md5(F.col("tok").cast("binary")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.ascii(F.substring(F.col("h"), i + 1, 1)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(n_bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    bit_chars = [
        F.when(F.col(f"_b{i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return agg.select(id_col, F.concat(*bit_chars).alias("simhash"))


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iters: int = 25,
                   checkpoint_dir: str | None = None,
                   driver_max_edges: int = 1_000_000) -> DataFrame:
    """Connected components over near-dup pairs → (node, cluster_id),
    cluster_id = min doc id in the component. This is the missing third
    stage of production dedup: candidate PAIRS (LSH) → exact scores →
    CLUSTERS → keeper per cluster; transitive closure matters because
    near-dup is not transitive (A~B, B~C does not imply A~C scores
    above threshold, yet all three are one dup group).

    Algorithm: min-label propagation with POINTER JUMPING — each round
    every node takes the min label over {self} ∪ neighbors, then
    short-circuits to its label's label (path halving). Convergence in
    O(log(diameter)) rounds instead of O(diameter) — the property that
    makes iterative CC viable on web-scale graphs (the same doubling
    idea as Kiveris et al.'s large-star/small-star). Each round is two
    keyed shuffles; lineage is truncated per round (localCheckpoint),
    without which the plan tree grows exponentially — THE classic
    iterative-DataFrame trap. Driver-side work is one changed-row count
    per round (a scalar), never the graph.

    Raises after ``max_iters`` non-converged rounds (25 covers a
    diameter of ~2^25 via doubling) rather than returning wrong labels.

    Small graphs (≤ ``driver_max_edges`` edges, probed with a bounded
    LIMIT collect) skip the iteration entirely: driver-side union-find
    with the same min-label semantics, byte-identical output. Near-dup
    pair sets are the duplicates, not the corpus — at the default 10^6
    cap the probe is ≤ ~32 MB and replaces O(log d) multi-stage rounds
    with one job. Set ``driver_max_edges=0`` to force the distributed
    path.

    Durability trade-off: the default localCheckpoint stores round
    state as executor-local blocks — fastest, but a lost executor
    (preemptible/spot node at 100x scale) kills the job mid-iteration.
    Pass ``checkpoint_dir`` to truncate lineage through a parquet
    write/read-back per round instead (any Hadoop FS scheme): each
    round is then independently restartable and survives executor
    loss, at the cost of one materialization per round. The returned
    DataFrame reads from that dir — consume it before deleting."""
    import os as _os

    # Small-graph fast path: near-dup pair sets are usually orders of
    # magnitude smaller than the corpus (they are the DUPLICATES), and
    # each distributed label-propagation round costs several scheduled
    # stages — pure fixed overhead when the whole graph fits in one
    # bounded driver read. Collect at most ``driver_max_edges`` + 1
    # edges in ONE pass (a LIMIT probe, never an unbounded collect —
    # ≤ ~32 MB at the default) and run union-find with min-label
    # semantics; identical output to the iterative path (cluster_id =
    # min node id of the component). Over the limit, nothing was
    # assumed: fall through to pointer jumping. ``driver_max_edges=0``
    # forces the distributed path (plan tests pin its shape).
    if driver_max_edges > 0:
        probe = (pairs.select(F.col(id_a).alias("src"),
                              F.col(id_b).alias("dst"))
                 .limit(driver_max_edges + 1).collect())
        if len(probe) <= driver_max_edges:
            parent: dict = {}

            def _find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in probe:
                a, b = row[0], row[1]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    # min-label union: the smaller id becomes the root,
                    # so every component's root is its min node id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            out = [(n, _find(n)) for n in parent]
            node_t = pairs.schema[id_a].dataType
            spark = pairs.sparkSession
            from pyspark.sql import types as _T
            schema = _T.StructType([
                _T.StructField("node", node_t, False),
                _T.StructField("cluster_id", node_t, False),
            ])
            return spark.createDataFrame(out, schema)

    def _truncate(df: DataFrame, name: str, eager: bool = True) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        path = _os.path.join(checkpoint_dir, name)
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # STATIONARY edges (same discipline as operators/graph.pagerank):
    # the per-round neighbor join keys on edges.dst, so hash-partition
    # the truncated edge table by dst ONCE — every round's join then
    # reuses this partitioning and only the (|V|-row) label vector
    # shuffles; without it the |E|-row table reshuffles every round.
    edges = _truncate(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().repartition("dst"),
        "edges",
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for i in range(max_iters):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .select(edges.src.alias("node"), "lbl",
                    F.lit(None).alias("_old"))
        )
        # carry each node's incoming label as _old through the round:
        # the convergence test then reads it off the checkpointed frame
        # instead of re-joining against the previous labels (one join +
        # exchange pair per round removed). Every node has exactly one
        # self row, so max(_old) is that row's label.
        prop = (
            labels.select("node", "lbl", F.col("lbl").alias("_old"))
            .unionByName(nbr)
            .groupBy("node").agg(F.min("lbl").alias("lbl"),
                                 F.max("_old").alias("_old"))
        )
        # pointer jumping: follow lbl -> lbl(lbl) (labels are node ids,
        # so the lookup is a self-join; misses mean lbl is already a root)
        hop = prop.select(F.col("node").alias("_n2"), F.col("lbl").alias("_l2"))
        # truncate lineage per round; two alternating dirs in durable
        # mode (round i's target was last used by round i-2, which no
        # live DataFrame references by the time round i writes).
        # localCheckpoint is LAZY here: the changed-count action below
        # materializes the round in the same job (eager=True would pay
        # a separate materialization pass per round).
        new = _truncate(
            prop.join(hop, prop.lbl == hop._n2, "left")
            .select("node", F.coalesce("_l2", "lbl").alias("lbl"), "_old"),
            f"labels_{i % 2}",
            eager=False,
        )
        changed = new.where(F.col("lbl") != F.col("_old")).count()
        labels = new.select("node", "lbl")
        if changed == 0:
            return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iters} rounds "
        "(pathological graph or max_iters too small)"
    )


def dedup_keepers(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Cluster → keeper selection: every clustered doc labeled with the
    cluster keeper (min id); docs to DROP are rows where node !=
    keeper_id. Composes dedup_clusters — the exact shape a corpus-dedup
    job applies as an anti-join against the full table."""
    return dedup_clusters(pairs, id_a, id_b).select(
        "node", F.col("cluster_id").alias("keeper_id"),
        (F.col("node") != F.col("cluster_id")).alias("is_duplicate"),
    )


def contaminated_ids(train: DataFrame, holdout: DataFrame, n: int = 3,
                     window: int = 4, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Train/test decontamination detector: training docs sharing ANY
    winnowing fingerprint with the holdout corpus, with the count of
    distinct shared fingerprints. The winnowing guarantee (any shared
    run of >= window+n-1 tokens shares a fingerprint) makes this a
    conservative superset of exact >=6-token overlap at the defaults —
    the standard eval-set leakage gate for LLM training corpora.

    Shape at 100 TB: fingerprint both sides (one keyed window shuffle
    each), then ONE semi-join-style shuffle on the short fp key; holdout
    fingerprints are typically tiny (an eval set) so AQE will broadcast
    that side. Nothing quadratic, nothing collected."""
    fp_t = winnow_fingerprints(train, n, window, id_col, text_col)
    fp_h = (winnow_fingerprints(holdout, n, window, id_col, text_col)
            .select("fp").distinct())
    return (
        fp_t.join(fp_h, "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def contaminated_ids_bloom(train: DataFrame, holdout: DataFrame, n: int = 3,
                           window: int = 4, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_holdout_fps: int = 5_000_000) -> DataFrame:
    """``contaminated_ids`` with an explicit Bloom-filter pre-gate — the
    runtime-filter shape for 100 TB decontamination. The exact semi-join
    in ``contaminated_ids`` shuffles EVERY corpus fingerprint to meet
    the holdout side; here the holdout fingerprint set (an eval set —
    small by design, guarded by ``max_holdout_fps``) is compressed to an
    O(MB) bitset broadcast to executors, and corpus fingerprints are
    dropped SCAN-SIDE unless the bitset might contain them. Only bloom
    positives (true hits + ~0.2% false positives) reach the exact
    confirming broadcast join, so the result is IDENTICAL to
    ``contaminated_ids`` (Bloom filters have no false negatives) while
    the corpus side never shuffles its fingerprints at all.

    Determinism: the 4 bit positions per fingerprint are the four
    32-bit slices of the fingerprint's own md5 hex (winnow fps ARE md5
    hashes) — no seeds, identical across engines and runs."""
    fp_t = winnow_fingerprints(train, n, window, id_col, text_col)
    fps = [
        r.fp
        for r in winnow_fingerprints(holdout, n, window, id_col, text_col)
        .select("fp").distinct().collect()
    ]
    if len(fps) > max_holdout_fps:
        raise ValueError(
            f"holdout fingerprint set ({len(fps)}) exceeds "
            f"max_holdout_fps={max_holdout_fps}; decontamination holdouts "
            "are eval sets — if yours is corpus-sized, use "
            "contaminated_ids (distributed semi-join) instead")

    # power-of-two bit count, ~16 bits/element, capped at 16 MiB:
    # k=4, m=16n -> fpp = (1 - e^-0.25)^4 ~= 0.24%
    n_bits = 1 << max(10, min(27, (16 * max(1, len(fps))).bit_length()))
    mask = n_bits - 1
    bits = np.zeros(n_bits >> 3, dtype=np.uint8)
    for fp in fps:
        for i in range(4):
            pos = int(fp[8 * i:8 * i + 8], 16) & mask
            bits[pos >> 3] |= np.uint8(1 << (pos & 7))

    spark = train.sparkSession
    bc = spark.sparkContext.broadcast(bits.tobytes())

    @F.pandas_udf("boolean")
    def _might_contain(s: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)

        def hit(fp: str) -> bool:
            for i in range(4):
                pos = int(fp[8 * i:8 * i + 8], 16) & mask
                if not (arr[pos >> 3] >> (pos & 7)) & 1:
                    return False
            return True

        return s.map(hit)

    hold_df = F.broadcast(
        spark.createDataFrame([(f,) for f in fps], "fp string"))
    return (
        fp_t.where(_might_contain(F.col("fp")))
        .join(hold_df, "fp")  # exact confirm: kills bloom false positives
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def exact_span_dedup(docs: DataFrame, n: int = 3, line_delim: str = "\n",
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Cross-document EXACT SPAN dedup (the C4 / "Deduplicating
    Training Data" ExactSubstr family): every run of ``n`` consecutive
    lines is hashed corpus-wide; when the same span occurs more than
    once, the FIRST occurrence — ordered by (doc, start line) — is the
    keeper and every other occurrence's lines are removed from their
    documents, which are then rebuilt. Single pass (no iteration):
    a keeper's own lines may also be removed by a DIFFERENT overlapping
    duplicated span, matching the published single-sweep behavior.

    Output: (id_col, text_clean, n_lines_removed) for EVERY input doc —
    text_clean is the delim-join of the surviving trimmed non-empty
    lines (whitespace is normalized by reconstruction; callers needing
    byte-exact untouched docs should anti-join on n_lines_removed > 0
    instead).

    Shape at 10^12 docs: span hashes are array expressions riding the
    scan (one narrow explode, ~one row per line); duplicate detection
    is ONE shuffle on the span hash (row_number window); removal
    indices reduce per doc (one keyed shuffle) and join back on the doc
    key — everything linear and keyed, nothing pairwise, nothing
    collected."""
    from ..functions.text import lines_col

    if n < 1:
        raise ValueError(f"span length must be >= 1, got {n}")
    lines = lines_col(F.col(text_col), line_delim)
    base = docs.select(id_col, lines.alias("_lines"))
    # span j (1-based start) = md5 of lines[j..j+n-1]; empty when the
    # doc has fewer than n lines. chr(1) joiner cannot occur in trimmed
    # line text, so span identity == exact line-sequence identity.
    spans = base.select(
        id_col,
        F.expr(
            f"CASE WHEN size(_lines) >= {n} THEN "
            f"transform(sequence(1, size(_lines) - {n - 1}), "
            f"j -> md5(array_join(slice(_lines, j, {n}), chr(1)))) "
            f"ELSE array() END"
        ).alias("_spans"),
    ).select(id_col, F.posexplode("_spans").alias("_p0", "_h"))
    w = W.partitionBy("_h").orderBy(id_col, "_p0")
    dup_occ = (
        spans.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(id_col,
                F.explode(F.expr(f"sequence(_p0 + 1, _p0 + {n})"))
                .alias("_idx"))
    )
    removals = dup_occ.groupBy(id_col).agg(
        F.array_sort(F.collect_set("_idx")).alias("_rm"))
    # indices guarded: sequence(1, 0) would generate a DESCENDING
    # [1, 0] in Spark, so empty docs need an explicit empty array
    idx = F.when(F.size("_lines") == 0,
                 F.expr("array()").cast("array<int>")
                 ).otherwise(F.sequence(F.lit(1), F.size("_lines")))
    kept = F.filter(idx, lambda i: ~F.array_contains(F.col("_rm"), i))
    rebuilt = (
        base.join(removals, id_col, "left")
        .withColumn("_rm", F.coalesce(F.col("_rm"),
                                      F.expr("array()").cast("array<int>")))
        .select(
            id_col,
            F.array_join(
                F.transform(kept,
                            lambda i: F.element_at(F.col("_lines"), i)),
                line_delim).alias("text_clean"),
            F.size("_rm").alias("n_lines_removed"),
        )
    )
    return rebuilt


def _labeled_members(clusters: DataFrame, docs: DataFrame,
                     quality_col: str, id_col: str) -> DataFrame:
    """(node, cluster_id, quality) for every clustered doc."""
    q = docs.select(F.col(id_col), F.col(quality_col))
    return (
        clusters.join(q, clusters["node"] == q[id_col])
        .select("node", "cluster_id", quality_col)
    )


def _argmax_quality(quality_col: str) -> Column:
    """THE keep-best keeper rule: highest quality, ties → smallest id.
    Single definition — cluster_representatives and dedup_drops_best
    must select the same keeper or a pipeline's kept and dropped sets
    desynchronize."""
    return F.max_by(
        "node",
        F.struct(F.col(quality_col), (-F.col("node")).alias("_nid")),
    )


def cluster_representatives(docs: DataFrame, pairs: DataFrame,
                            quality_col: str = "n_chars",
                            id_col: str = "doc_id",
                            id_a: str = "id_a",
                            id_b: str = "id_b") -> DataFrame:
    """Quality-aware keep-one policy: for every near-dup cluster keep
    the HIGHEST-``quality_col`` member (ties → smallest id), and keep
    every unclustered doc as its own singleton. dedup_keepers' min-id
    policy discards information; production corpus dedup keeps the
    best copy (longest text, highest LM score, newest crawl) — this is
    that selection, composed from dedup_clusters.

    Returns one row per surviving doc: (cluster_id, keeper_id,
    cluster_size, keeper_quality). Dropping duplicates is then an
    anti-join of the corpus against the non-keeper member set.

    100 TB shape: CC is the dedup_clusters pointer-jumping loop; the
    quality join and the per-cluster argmax are each ONE keyed
    shuffle, and the argmax is F.max_by over a (quality, -id) struct —
    a partial-aggregatable scalar agg, never a sort or a window (a
    row_number() window here would re-sort every cluster). Singletons
    are a LEFT ANTI against the (small) clustered-node set."""
    clusters = dedup_clusters(pairs, id_a, id_b)
    labeled = _labeled_members(clusters, docs, quality_col, id_col)
    reps = labeled.groupBy("cluster_id").agg(
        _argmax_quality(quality_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(quality_col).alias("keeper_quality"),
    )
    singles = (
        docs.select(F.col(id_col), F.col(quality_col))
        .join(
            clusters.select(F.col("node").alias(id_col)), id_col, "left_anti"
        )
        .select(
            F.col(id_col).alias("cluster_id"),
            F.col(id_col).alias("keeper_id"),
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.col(quality_col).alias("keeper_quality"),
        )
    )
    return reps.unionByName(singles)


def dedup_drops_best(docs: DataFrame, pairs: DataFrame,
                     quality_col: str = "n_chars",
                     id_col: str = "doc_id",
                     id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """The ids to DROP under the keep-best policy: every clustered doc
    except its cluster's argmax-``quality_col`` member (ties → min id).
    One dedup_clusters run + one quality join + one max_by agg —
    the anti-join-ready complement of cluster_representatives (which
    re-runs CC; use this one inside pipelines)."""
    clusters = dedup_clusters(pairs, id_a, id_b)
    lab = _labeled_members(clusters, docs, quality_col, id_col)
    keep = lab.groupBy("cluster_id").agg(
        _argmax_quality(quality_col).alias("_keeper")
    )
    return (
        lab.join(keep, "cluster_id")
        .where(F.col("node") != F.col("_keeper"))
        .select(F.col("node").alias(id_col))
    )


def incremental_near_dups(new_docs: DataFrame, corpus: DataFrame,
                          threshold: float = 0.5, n_bands: int = 4,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 3,
                          corpus_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental-ingestion dedup: flag NEW docs that near-duplicate
    the EXISTING corpus — without re-clustering the world. This is the
    production shape at 10^12 docs: each arriving crawl batch is
    checked against the standing corpus index; only the batch is
    re-processed, never the corpus.

    Candidates come from joining the batch's banded minhash signatures
    against the corpus signature table on (band, minhash) — in
    production that right side is PRECOMPUTED and maintained
    incrementally (it is exactly ``minhash_signatures(corpus)``, a few
    rows per doc); here it is derived inline so the operator is
    self-contained. The shared ``_jaccard_confirm`` stage then touches
    only candidate docs on BOTH sides (each LEFT SEMI-cut to candidate
    ids before shingling), so confirm cost is proportional to the
    match set, not the batch or the corpus. Returns
    (new_id, dup_of, jaccard) — one row per confirmed (new, old) pair
    at or above ``threshold``.

    New-vs-new duplicates inside the batch are a separate (small)
    problem: run ``near_dup_pairs(new_docs)`` on the batch itself.

    ``corpus_sigs``: a PRECOMPUTED corpus signature table — exactly the
    schema ``minhash_signatures`` returns ``(id_col, band, minhash)`` —
    substituted for the inline derivation so repeated ingest batches
    (jobs/curate.py --dedup-against across invocations, or
    :class:`NearDupIndex` which persists it in a sink table) never
    re-shingle the standing corpus. When None the index is derived
    inline so the operator stays self-contained.
    """
    new_sig = minhash_signatures(new_docs, n_bands, id_col, text_col, n)
    idx = (corpus_sigs if corpus_sigs is not None
           else minhash_signatures(corpus, n_bands, id_col, text_col, n))
    cand = (
        new_sig.select(F.col(id_col).alias("new_id"), "band", "minhash")
        .join(
            idx.select(F.col(id_col).alias("old_id"), "band", "minhash"),
            ["band", "minhash"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    return _jaccard_confirm(
        cand, new_docs, corpus, "new_id", "old_id", threshold,
        id_col, text_col, n, b_out="dup_of",
    )


class NearDupIndex:
    """PERSISTED standing-corpus near-dup index: the banded minhash
    signature table lives in an exactly-once sink table on disk
    (streaming/sink.ExactlyOnceParquetSink), built once from the
    standing corpus and grown incrementally — each arriving crawl
    batch probes the on-disk index and appends its OWN signatures back
    as the next committed batch.

    This is the real ingest shape at 10^12 docs, closing the gap
    :func:`incremental_near_dups` documents: that operator derives the
    corpus index inline per call, i.e. re-shingles the ENTIRE standing
    corpus for every arriving batch. Here the corpus is shingled
    exactly once (at :meth:`build`), each batch is shingled exactly
    once (at its own :meth:`ingest`), and a probe costs
    O(batch signatures) + one (band, minhash) shuffle against a
    columnar SCAN of the index — a few tens of bytes per indexed doc,
    no text, no recompute. The sink's idempotent manifest ledger makes
    index growth exactly-once under driver retries, and its
    ``compact()`` folds the accumulated per-batch signature files when
    they get numerous.

    The exact-Jaccard confirm stage still needs candidate docs' TEXT;
    ``indexed_docs`` (the lake-resident corpus-so-far) is LEFT
    SEMI-cut to candidate ids before shingling inside the shared
    ``_jaccard_confirm``, so confirm cost tracks the match set, never
    the corpus. Reference semantics: the same near-duplicate relation
    as ``near_dup_pairs`` (SURVEY §2 dedup family), restricted
    new-vs-indexed.

    Concurrency contract — SINGLE WRITER, like every sink in this
    repo: ``ingest`` derives the next batch id from the committed
    ledger, so retries of the SAME ingest are exactly-once no-ops, but
    two concurrent ingests of DIFFERENT batches would race to the same
    id — the loser's write becomes a replay no-op, its signatures are
    never indexed, and its probe reads the winner's signatures back as
    its own (silently wrong hits). Serialize ingests (they are the
    per-crawl-batch step of one pipeline; an OCC ledger à la Delta is
    out of scope).
    """

    def __init__(self, root: str, threshold: float = 0.5,
                 n_bands: int = 4, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 output_partitions: int | None = 8):
        from ..streaming.sink import ExactlyOnceParquetSink

        self.sink = ExactlyOnceParquetSink(
            root, output_partitions=output_partitions)
        self.threshold = threshold
        self.n_bands = n_bands
        self.id_col = id_col
        self.text_col = text_col
        self.n = n

    def _sigs(self, docs: DataFrame) -> DataFrame:
        return minhash_signatures(
            docs, self.n_bands, self.id_col, self.text_col, self.n)

    def build(self, corpus: DataFrame) -> None:
        """Index the standing corpus as batch 0. Idempotent: a replay
        (driver retry) is a ledger no-op."""
        self.sink.write_batch(self._sigs(corpus), 0)

    def ingest(self, spark, new_docs: DataFrame,
               indexed_docs: DataFrame) -> DataFrame:
        """Probe ``new_docs`` against everything indexed SO FAR, then
        append their signatures as the next committed batch. Returns
        (new_id, dup_of, jaccard) — near-dup hits of the new batch
        against the standing index at or above ``threshold``.

        ``indexed_docs`` must be the docs the index currently covers
        (original corpus plus previously ingested batches) — the
        confirm stage semi-joins it down to candidates only. Order of
        operations matters and is handled here: the probe snapshot is
        path-pinned BEFORE the append so a batch never matches itself,
        and the appended signatures are read back from the just-written
        files so signature computation runs once, not once per
        downstream reference."""
        committed = self.sink.committed_batches()
        if not committed:
            raise ValueError(
                f"NearDupIndex at {self.sink.root} is empty — call "
                f"build(corpus) before ingest()")
        # explicit pre-append snapshot: a batch never matches itself
        idx = self.sink.read(spark, as_of_batch=committed[-1])
        nxt = committed[-1] + 1
        self.sink.write_batch(self._sigs(new_docs), nxt)  # materialized once
        new_sig = self.sink.read_changes(spark, since_batch=nxt - 1,
                                         as_of_batch=nxt)
        cand = (
            new_sig.select(
                F.col(self.id_col).alias("new_id"), "band", "minhash")
            .join(idx.select(
                F.col(self.id_col).alias("old_id"), "band", "minhash"),
                ["band", "minhash"])
            .select("new_id", "old_id")
            .distinct()
        )
        return _jaccard_confirm(
            cand, new_docs, indexed_docs, "new_id", "old_id",
            self.threshold, self.id_col, self.text_col, self.n,
            b_out="dup_of",
        )
