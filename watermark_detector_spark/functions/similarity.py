"""Embedding similarity search: brute-force cosine (baseline oracle),
exact distributed block-GEMM all-pairs, and the approximate scale paths
— multi-table sign-LSH candidate buckets and an IVF coarse quantizer
(optionally product-quantized).

Vectors are ``array<float>`` columns; pairwise arithmetic is either
built-in (``zip_with`` + ``aggregate``, JVM-side) or a per-group BLAS
GEMM inside an Arrow batch. At 100 TB the brute-force O(N²) join is
replaced by ``lsh_candidate_pairs`` (random-hyperplane sign buckets;
recall 1-(1-(1-θ/π)^b)^L, oracle-checked by q44) or ``ivf_topk`` /
``ivfpq_topk`` (deterministic spherical k-means cells, FAISS-IVF shape;
exact at nprobe == n_cells); brute force stays as the in-cell scorer
and the small-scale correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", _norm(F.col(vec_col)))


def cosine_pairs_expr(df: DataFrame, threshold: float = 0.45,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine >= threshold via pure column expressions
    (zip_with/aggregate). Reference implementation: correct everywhere,
    but higher-order-function lambdas evaluate interpreted — use
    ``cosine_pairs`` (GEMM-blocked) for anything beyond toy sizes."""
    n = with_norm(df, vec_col)
    a = n.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                 F.col("_norm").alias("_na"))
    b = n.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                 F.col("_norm").alias("_nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4)
            .alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def _round_half_up(x, ndigits: int = 4):
    """HALF_UP rounding, matching Spark's F.round / DuckDB round (numpy
    and Python ``round`` are HALF_EVEN — a latent tie divergence)."""
    import numpy as np

    scale = 10.0 ** ndigits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def cosine_pairs(df: DataFrame, threshold: float = 0.45,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 rows_per_block: int = 8192) -> DataFrame:
    """All pairs with cosine >= threshold — EXACT, distributed
    block-pair GEMM. No driver collect, no broadcast of the corpus.

    Scale shape: rows hash into B = ceil(N / rows_per_block) blocks;
    each row is replicated to the B block-pair groups it participates
    in (shuffle volume O(N·B·dim)); each (lo, hi) group multiplies its
    two row blocks with one BLAS GEMM and emits only pairs above the
    threshold. Compute is the unavoidable exact O(N²) but distributed
    over B(B+1)/2 independent tasks whose working set is bounded by
    2·rows_per_block vectors — no single node ever holds the corpus.
    For approximate-but-linear candidate generation use
    ``lsh_candidate_pairs`` / ``ivf_topk`` / ``minhash_lsh_candidates``
    instead."""
    import math

    import numpy as np
    import pandas as pd

    n_rows = df.count()  # one lightweight agg job to size the blocking
    n_blocks = max(1, math.ceil(n_rows / rows_per_block))

    d = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # replicate each row into every block-pair group (lo, hi) it joins
    exploded = (
        d.withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .select(
            "_id", "_v", "_blk",
            F.least("_blk", "_j").alias("_lo"),
            F.greatest("_blk", "_j").alias("_hi"),
        )
    )

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["_lo"].iat[0]), int(pdf["_hi"].iat[0])
        ids = pdf["_id"].to_numpy()
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        if lo == hi:
            ids_a = ids_b = ids
            mat_a = mat_b = mat
        else:
            a_mask = (pdf["_blk"] == lo).to_numpy()
            ids_a, mat_a = ids[a_mask], mat[a_mask]
            ids_b, mat_b = ids[~a_mask], mat[~a_mask]
        if len(ids_a) == 0 or len(ids_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"})
        cos = mat_a @ mat_b.T  # BLAS GEMM per block pair
        if lo == hi:
            mask = (cos >= threshold - 5e-5) & (ids_a[:, None] < ids_b[None, :])
        else:  # disjoint blocks: each unordered pair appears exactly once
            mask = cos >= threshold - 5e-5
        ia, jb = np.nonzero(mask)
        c = _round_half_up(cos[ia, jb], 4)
        keep = c >= threshold
        pa, pb = ids_a[ia[keep]], ids_b[jb[keep]]
        return pd.DataFrame({
            "id_a": np.minimum(pa, pb).astype("int64"),
            "id_b": np.maximum(pa, pb).astype("int64"),
            "cosine": c[keep],
        })

    return exploded.groupBy("_lo", "_hi").applyInPandas(
        _kernel, schema="id_a long, id_b long, cosine double"
    )


def brute_force_topk(df: DataFrame, k: int = 3, n_queries: int | None = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query vector (queries = first
    ``n_queries`` ids, or all). Ordering on the UNROUNDED cosine with id
    tiebreak — deterministic."""
    n = with_norm(df, vec_col)
    q = n.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_vq"),
                 F.col("_norm").alias("_nq"))
    if n_queries is not None:
        q = q.where(F.col("query_id") < n_queries)
    c = n.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vc"),
                 F.col("_norm").alias("_nc"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (_dot(F.col("_vq"), F.col("_vc")) / (F.col("_nq") * F.col("_nc"))).alias("_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(F.col("_cos"), 4).alias("cosine"))
    )


def random_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (hash-seeded, no RNG
    state) for sign-LSH."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int.from_bytes(
                hashlib.blake2b(f"{seed}:{p}:{d}".encode(), digest_size=8).digest(), "big"
            )
            row.append((h / 2**64) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for a vector under the given hyperplanes."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(v) for v in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_candidate_pairs(df: DataFrame, dim: int, n_planes: int = 3,
                        n_tables: int = 16, id_col: str = "vec_id",
                        vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Candidate (query_id, neighbor_id) pairs sharing a sign-LSH bucket
    in ANY of ``n_tables`` hash tables (both orientations, distinct).

    This is the linear, SQL-expressible candidate-generation stage of
    ANN: bucket assignment is a projection (no Python), and each table's
    self-join shuffles on (table, bucket) — 2^n_planes-way partitioned,
    never all-pairs. Oracle-checked by driver query q44."""
    bucketed = df.withColumn("_tb", F.explode(F.array(*[
        F.struct(
            F.lit(t).alias("table"),
            lsh_bucket(F.col(vec_col),
                       random_hyperplanes(dim, n_planes, seed + 1000 * t)).alias("bucket"),
        )
        for t in range(n_tables)
    ]))).select(
        id_col,
        F.col("_tb.table").alias("_table"), F.col("_tb.bucket").alias("_bucket"),
    )
    a = bucketed.select(F.col(id_col).alias("query_id"), "_table", "_bucket")
    b = bucketed.select(F.col(id_col).alias("neighbor_id"), "_table", "_bucket")
    return (
        a.join(b, ["_table", "_bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def ivf_centroids(df: DataFrame, dim: int, n_cells: int = 8, n_iters: int = 3,
                  id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic spherical k-means coarse quantizer (IVF cell
    centroids): init = the n_cells lowest-id vectors, then ``n_iters``
    Lloyd iterations. Assignment is distributed (one GEMM per Arrow
    batch against the broadcast centroid matrix); the centroid UPDATE
    collects only n_cells x dim floats to the driver per iteration —
    bounded regardless of corpus size. Returns a normalized numpy
    matrix (n_cells, dim)."""
    import numpy as np

    init = df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    cents = np.array([r[0] for r in init], dtype=np.float64)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(n_iters):
        assigned, b_iter = _ivf_assign(df, cents, id_col, vec_col)
        sums = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # the iteration's jobs are done (eager collect) — release the
        # per-iteration centroid broadcast instead of leaking one per
        # Lloyd step on every executor
        b_iter.destroy()
        new = cents.copy()
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(r["cell"], [None] * dim)[r["pos"]] = r["s"] / r["n"]
        for cell, vals in acc.items():
            if all(v is not None for v in vals):
                new[cell] = vals
        cents = new / np.linalg.norm(new, axis=1, keepdims=True)
    return cents


def _ivf_assign(df: DataFrame, cents, id_col: str, vec_col: str,
                broadcast=None):
    """(id, vec) → ((id, vec, cell) DataFrame, broadcast handle):
    nearest centroid by cosine, one GEMM per Arrow batch against the
    broadcast centroid matrix. The handle is returned so callers can
    reuse it across stages and destroy it once their jobs have run."""
    import numpy as np
    import pandas as pd

    b = broadcast or df.sparkSession.sparkContext.broadcast(cents)

    def _f(batches):
        c = b.value
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(m) == 0:
                yield pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                                    vec_col: pd.Series([], dtype="object"),
                                    "cell": pd.Series([], dtype="int32")})
                continue
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cell = np.argmax(m @ c.T, axis=1).astype("int32")
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                vec_col: pdf[vec_col],
                                "cell": cell})

    return df.select(id_col, vec_col).mapInPandas(
        _f, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    ), b


def ivf_topk(df: DataFrame, dim: int, k: int = 3, n_cells: int = 8,
             nprobe: int = 2, n_iters: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding",
             n_queries: int | None = None) -> DataFrame:
    """Approximate top-k via IVF: vectors index into their nearest
    coarse cell; each query probes its ``nprobe`` nearest cells and
    scores only those members. Candidate volume is N²·nprobe/n_cells —
    tune n_cells ~ sqrt(N) and nprobe for the recall/cost point (recall
    vs brute force asserted in t:test_ivf_topk_recall). The scale path
    to FAISS-style IVF without leaving DataFrame ops: assignment and
    probing are Arrow-batch GEMMs, candidate scoring is a keyed
    equi-join on cell + JVM-side dot product."""
    import numpy as np
    import pandas as pd

    cents = ivf_centroids(df, dim, n_cells, n_iters, id_col, vec_col)
    # probing every cell == exact search; also guards tables smaller
    # than n_cells (the centroid matrix then has fewer rows)
    nprobe = min(nprobe, len(cents))
    # ONE broadcast shared by the member-assignment and probe stages
    b = df.sparkSession.sparkContext.broadcast(cents)
    assigned, _ = _ivf_assign(df, cents, id_col, vec_col, broadcast=b)
    members = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vc"), "cell"
    )

    def _probe(batches):
        c = b.value
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(m) == 0:
                yield pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                                    vec_col: pd.Series([], dtype="object"),
                                    "cell": pd.Series([], dtype="int32")})
                continue
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            order = np.argsort(-(mn @ c.T), axis=1)[:, :nprobe]
            ids = np.repeat(pdf[id_col].to_numpy(), nprobe)
            vecs = pdf[vec_col].repeat(nprobe).reset_index(drop=True)
            yield pd.DataFrame({id_col: ids, vec_col: vecs,
                                "cell": order.ravel().astype("int32")})

    queries = df.select(id_col, vec_col)
    if n_queries is not None:
        # restrict the QUERY side only — neighbors still come from the
        # whole indexed corpus (same contract as brute_force_topk)
        queries = queries.where(F.col(id_col) < n_queries)
    probes = queries.mapInPandas(
        _probe, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_vq"), "cell")

    scored = (
        probes.join(members, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (_dot(F.col("_vq"), F.col("_vc"))
             / (_norm(F.col("_vq")) * _norm(F.col("_vc")))).alias("_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("_cos"), 4).alias("cosine"))
    )


def pq_train(df: DataFrame, dim: int, cents, m: int = 8, ksub: int = 16,
             n_train: int = 2048, n_iters: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding"):
    """Product-quantization codebooks over IVF RESIDUALS (FAISS IVF-PQ
    training stage, deterministic): split the residual (normalized
    vector minus its coarse centroid) into ``m`` subspaces of dim/m
    dims; per subspace run k-means with ``ksub`` centers on a
    deterministic training sample — the ``n_train`` lowest-id vectors
    (init = the first ksub sample residuals, then ``n_iters`` Lloyd
    steps; an emptied cluster keeps its previous center). Everything
    after the bounded sample collect (n_train × dim floats, ~1 MB at
    the defaults) is driver-side numpy — codebook training is sampled
    at ANY corpus scale, exactly as FAISS trains on a slice.

    Returns (m, ksub, dim/m) float64 codebooks."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if not 1 <= ksub <= 128:
        raise ValueError(
            f"ksub={ksub} out of range — codes are stored as tinyint "
            "(one byte per subspace), so 1..128")
    dsub = dim // m
    rows = df.orderBy(id_col).limit(n_train).select(vec_col).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    x = x / nrm
    cell = np.argmax(x @ cents.T, axis=1)
    resid = x - cents[cell]
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = resid[:, j * dsub:(j + 1) * dsub]
        k_eff = min(ksub, len(sub))
        c = sub[:k_eff].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for q in range(k_eff):
                mask = a == q
                if mask.any():
                    c[q] = sub[mask].mean(axis=0)
        books[j, :k_eff] = c
    return books


def pq_encode(df: DataFrame, cents, books, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Distributed IVF-PQ encoding: (id, cell, codes array<tinyint>) —
    the ENTIRE memory-resident index. Per Arrow batch: one GEMM against
    the broadcast coarse centroids for the cell, then per subspace an
    argmin against the broadcast codebook over the residual slice.
    Index memory is N·(8 id + 4 cell + m code) bytes ≈ N·(12+m) vs
    N·dim·4 for raw float32 vectors — at dim=768, m=16 that is
    3 KB → 28 B per doc, the factor that lets a 10^12-doc ANN index
    fit a cluster's RAM while raw vectors stay on disk for rerank."""
    import numpy as np
    import pandas as pd

    m, ksub, dsub = books.shape
    sc = df.sparkSession.sparkContext
    b_c = sc.broadcast(cents)
    b_b = sc.broadcast(books)

    def _enc(batches):
        c, bk = b_c.value, b_b.value
        mm, _, ds = bk.shape
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(x) == 0:
                yield pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                                    "cell": pd.Series([], dtype="int32"),
                                    "codes": pd.Series([], dtype="object")})
                continue
            nrm = np.linalg.norm(x, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            xn = x / nrm
            cell = np.argmax(xn @ c.T, axis=1)
            resid = xn - c[cell]
            codes = np.empty((len(x), mm), dtype=np.int8)
            for j in range(mm):
                sub = resid[:, j * ds:(j + 1) * ds]
                d2 = ((sub[:, None, :] - bk[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int8)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "cell": cell.astype("int32"),
                                "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        _enc, schema=f"{id_col} long, cell int, codes array<tinyint>")


def ivfpq_topk(df: DataFrame, dim: int, k: int = 3, n_cells: int = 8,
               nprobe: int = 2, m: int = 8, ksub: int = 16,
               n_iters: int = 3, rerank: int | None = 32,
               id_col: str = "vec_id", vec_col: str = "embedding",
               n_queries: int | None = None) -> DataFrame:
    """IVF-PQ approximate top-k (FAISS IndexIVFPQ re-expressed as
    DataFrame ops): candidates come from the ``nprobe`` nearest coarse
    cells, ordered by ADC — the asymmetric inner product
    q·(centroid + Σ_j codebook_j[code_j]) computed from the CODES, no
    raw candidate vector touched — then the top ``rerank`` per query
    are re-scored with exact cosine against the raw vectors (one keyed
    join back to the corpus table: disk-resident vectors are read only
    for rerank candidates). ``rerank=None`` reranks every candidate,
    which at nprobe == n_cells makes the output EXACT (the contract
    query's oracle mode — the codes still drive the plumbing, but no
    true neighbor can be cut before exact scoring).

    Memory model: the probe-side state is codes (N·(12+m) B, see
    pq_encode) + codebooks (m·ksub·dim/m floats, broadcast) — raw
    vectors appear only in the rerank join, streamed from storage.
    Shuffle shape: one (cell) equi-join for candidates, one (id) join
    for rerank, one top-k window — same count as ivf_topk."""
    cents = ivf_centroids(df, dim, n_cells, n_iters, id_col, vec_col)
    books = pq_train(df, dim, cents, m, ksub, id_col=id_col,
                     vec_col=vec_col)
    encoded = pq_encode(df, cents, books, id_col, vec_col)
    queries = df.select(id_col, vec_col)
    if n_queries is not None:
        queries = queries.where(F.col(id_col) < n_queries)
    return _ivfpq_search(queries, encoded, df, cents, books, k, nprobe,
                         rerank, id_col, vec_col)


def _ivfpq_search(queries: DataFrame, encoded: DataFrame,
                  raw: DataFrame, cents, books, k: int, nprobe: int,
                  rerank: int | None, id_col: str,
                  vec_col: str) -> DataFrame:
    """The IVF-PQ query pipeline shared by :func:`ivfpq_topk`
    (index derived inline) and :class:`AnnIndex` (index scanned from
    the persisted sink table): probe nprobe cells per query, ADC-order
    candidates from CODES alone, rerank the survivors with exact
    cosine against ``raw``. ``encoded`` must have (id_col, cell,
    codes) as produced by :func:`pq_encode`."""
    import numpy as np
    import pandas as pd

    nprobe = min(nprobe, len(cents))
    encoded = encoded.select(
        F.col(id_col).alias("neighbor_id"), "cell", "codes")
    sc = queries.sparkSession.sparkContext
    b_c = sc.broadcast(cents)
    b_b = sc.broadcast(books)

    def _probe(batches):
        c = b_c.value
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(x) == 0:
                yield pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                                    vec_col: pd.Series([], dtype="object"),
                                    "cell": pd.Series([], dtype="int32")})
                continue
            nrm = np.linalg.norm(x, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0  # zero vector: probe cells arbitrary
            xn = x / nrm
            order = np.argsort(-(xn @ c.T), axis=1)[:, :nprobe]
            ids = np.repeat(pdf[id_col].to_numpy(), nprobe)
            vecs = pdf[vec_col].repeat(nprobe).reset_index(drop=True)
            yield pd.DataFrame({id_col: ids, vec_col: vecs,
                                "cell": order.ravel().astype("int32")})

    probes = queries.select(id_col, vec_col).mapInPandas(
        _probe, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    ).select(F.col(id_col).alias("query_id"),
             F.col(vec_col).alias("_vq"), "cell")

    cand = probes.join(encoded, "cell").where(
        F.col("query_id") != F.col("neighbor_id"))

    def _adc(batches):
        c, bk = b_c.value, b_b.value
        mm, _, ds = bk.shape
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"query_id": pd.Series([], dtype="int64"),
                     "neighbor_id": pd.Series([], dtype="int64"),
                     "_adc": pd.Series([], dtype="float64")})
                continue
            q = np.array(list(pdf["_vq"]), dtype=np.float64)
            qnrm = np.linalg.norm(q, axis=1, keepdims=True)
            qnrm[qnrm == 0.0] = 1.0  # NaN scores would corrupt the rank
            qn = q / qnrm
            cell = pdf["cell"].to_numpy()
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            score = np.einsum("bd,bd->b", qn, c[cell])
            for j in range(mm):
                sub = qn[:, j * ds:(j + 1) * ds]
                score += np.einsum("bd,bd->b", sub, bk[j][codes[:, j]])
            yield pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                                "_adc": score})

    scored = cand.mapInPandas(
        _adc, schema="query_id long, neighbor_id long, _adc double")
    if rerank is not None:
        wa = W.partitionBy("query_id").orderBy(
            F.desc("_adc"), F.asc("neighbor_id"))
        scored = (scored.withColumn("_arn", F.row_number().over(wa))
                  .where(F.col("_arn") <= rerank)
                  .drop("_arn"))
    rawv = raw.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_vc"))
    qraw = queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("_vq2"))
    exact = (
        scored.join(rawv, "neighbor_id").join(qraw, "query_id")
        .select("query_id", "neighbor_id",
                (_dot(F.col("_vq2"), F.col("_vc"))
                 / (_norm(F.col("_vq2")) * _norm(F.col("_vc"))))
                .alias("_cos"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("_cos"), 4).alias("cosine"))
    )


class AnnIndex:
    """PERSISTED IVF-PQ ANN index over exactly-once sink tables — the
    ANN analog of operators/dedup.NearDupIndex, and the shape a
    standing-corpus vector index actually has at 10^12 docs: the model
    (coarse centroids + PQ codebooks, a few KB) and the code table
    (N·(12+m) bytes) live ON DISK under one root, built once from the
    standing corpus; each arriving batch is encoded with the FROZEN
    model and appended as the next committed batch, becoming
    immediately searchable; queries scan the code table from disk
    (columnar, a few bytes per indexed doc) and touch raw vectors only
    for their rerank candidates. Encoding each batch costs O(batch);
    nothing is ever re-trained or re-encoded. The sink's idempotent
    ledger makes both build and ingest exactly-once under retries;
    like every sink in this repo the writer side is SINGLE-WRITER
    (concurrent ingests would race the next batch id — serialize
    them).

    Frozen-model caveat (standard FAISS practice): drift between the
    training corpus and later batches degrades recall, not
    correctness — rebuild when the corpus has grown far beyond the
    training sample."""

    def __init__(self, root: str, dim: int, n_cells: int = 8,
                 m: int = 8, ksub: int = 16, n_iters: int = 3,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        from ..streaming.sink import ExactlyOnceParquetSink

        self.model_sink = ExactlyOnceParquetSink(
            root.rstrip("/") + "/model", output_partitions=1)
        self.codes_sink = ExactlyOnceParquetSink(
            root.rstrip("/") + "/codes", output_partitions=4)
        self.dim, self.n_cells, self.m, self.ksub = dim, n_cells, m, ksub
        self.n_iters = n_iters
        self.id_col, self.vec_col = id_col, vec_col

    def build(self, corpus: DataFrame) -> None:
        """Train the coarse quantizer + codebooks on the standing
        corpus and commit model (batch 0 of the model table) and the
        corpus codes (batch 0 of the code table). Idempotent."""
        import numpy as np

        spark = corpus.sparkSession
        cents = ivf_centroids(corpus, self.dim, self.n_cells,
                              self.n_iters, self.id_col, self.vec_col)
        books = pq_train(corpus, self.dim, cents, self.m, self.ksub,
                         id_col=self.id_col, vec_col=self.vec_col)
        rows = [("cent", int(i), 0, [float(x) for x in cents[i]])
                for i in range(cents.shape[0])]
        rows += [("book", int(j), int(c),
                  [float(x) for x in books[j, c]])
                 for j in range(books.shape[0])
                 for c in range(books.shape[1])]
        model = spark.createDataFrame(
            rows, "kind string, i int, j int, vec array<double>")
        self.model_sink.write_batch(model, 0)
        self.codes_sink.write_batch(
            pq_encode(corpus, cents, books, self.id_col, self.vec_col), 0)

    def _model(self, spark):
        """(cents, books) reconstructed from the model table — a few
        KB, one bounded collect."""
        import numpy as np

        rows = self.model_sink.read(spark).collect()
        cents = np.zeros((self.n_cells, self.dim))
        dsub = self.dim // self.m
        books = np.zeros((self.m, self.ksub, dsub))
        for r in rows:
            if r["kind"] == "cent":
                cents[r["i"]] = r["vec"]
            else:
                books[r["i"], r["j"]] = r["vec"]
        return cents, books

    def ingest(self, new_vecs: DataFrame) -> None:
        """Encode a new batch with the frozen model and append its
        codes — it is searchable as soon as the commit publishes."""
        spark = new_vecs.sparkSession
        cents, books = self._model(spark)
        nxt = self.codes_sink.committed_batches()[-1] + 1
        self.codes_sink.write_batch(
            pq_encode(new_vecs, cents, books, self.id_col,
                      self.vec_col), nxt)

    def topk(self, queries: DataFrame, raw: DataFrame, k: int = 3,
             nprobe: int = 2, rerank: int | None = 32) -> DataFrame:
        """Top-k over everything indexed so far: the code table is
        scanned FROM DISK (never re-derived from text/vectors);
        ``raw`` is the lake-resident vector table used only for the
        rerank join. rerank=None + nprobe >= n_cells is exact over the
        indexed set."""
        spark = queries.sparkSession
        cents, books = self._model(spark)
        encoded = self.codes_sink.read(spark)
        return _ivfpq_search(queries, encoded, raw, cents, books, k,
                             nprobe, rerank, self.id_col, self.vec_col)


def semantic_dedup(df: DataFrame, dim: int, n_cells: int = 8,
                   threshold: float = 0.93, n_iters: int = 3,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic (embedding-space) dedup: cluster with the
    IVF coarse quantizer, then inside each cluster drop every vector
    whose cosine similarity to a LOWER-id cluster-mate reaches the
    threshold (greedy keep-first — deterministic and engine-portable,
    replacing the paper's keep-farthest-from-centroid tie order).

    Returns (id, cell, max_prev_sim, keep): max_prev_sim is the max
    HALF_UP-4-rounded cosine to any lower-id same-cell vector (NULL for
    the cell's first vector), keep = max_prev_sim is NULL or below the
    threshold. The keep rule compares the ROUNDED similarity, which
    makes replays on other engines robust to ~ulp-scale float noise —
    NOT flip-proof: Spark dots pre-normalized rows (numpy pairwise
    summation) while a SQL replay typically computes dot/(|a||b|)
    sequentially, so two slightly different doubles are rounded, and a
    similarity within that accumulation error of the 0.00005 rounding
    boundary (or a vector near-equidistant between two centroids at
    assignment) can still diverge. The fixtures sit far from those
    boundaries; treat a red replay on new data as a near-tie first.

    Scale shape (the SemDeDup posture): the expensive O(N²) similarity
    never happens — pairs exist only WITHIN a cell, so compute is
    O(N²/n_cells) spread over n_cells independent tasks, and n_cells
    grows with the corpus (the paper runs ~100k clusters at 100M+
    docs) keeping per-task working sets bounded at roughly
    (N/n_cells)·dim floats. Assignment is one Arrow-batch GEMM against
    the broadcast centroid matrix (n_cells·dim floats — driver-bounded
    like ivf_topk); the per-cell pass is one applyInPandas GEMM.

    n_iters=0 pins the centroids to the n_cells lowest-id vectors
    (normalized) with NO Lloyd steps — fully replayable in SQL, which
    is what the contract query uses; production keeps the default
    Lloyd refinement."""
    import numpy as np
    import pandas as pd

    cents = ivf_centroids(df, dim, n_cells, n_iters, id_col, vec_col)
    assigned, _b = _ivf_assign(df, cents, id_col, vec_col)

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        mn = m / nrm
        sims = _round_half_up(mn @ mn.T, 4)
        # max over strictly-lower-id rows: the strict lower triangle
        prev = np.where(np.tril(np.ones_like(sims, dtype=bool), k=-1),
                        sims, -np.inf).max(axis=1)
        has_prev = np.isfinite(prev)
        return pd.DataFrame({
            id_col: pdf[id_col],
            "cell": pdf["cell"],
            "max_prev_sim": np.where(has_prev, prev, np.nan),
            "keep": ~(has_prev & (prev >= threshold)),
        })

    return assigned.groupBy("cell").applyInPandas(
        _cell,
        schema=f"{id_col} long, cell int, max_prev_sim double, keep boolean",
    )
