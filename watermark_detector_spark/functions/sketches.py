"""Portable sketches over md5, pure built-in expressions: HyperLogLog
(distinct counting) and count-min (point frequencies / heavy hitters).

Spark ships approx_count_distinct (HLL++), but its register layout is
engine-private — results can't be reproduced, merged, or audited
outside Spark. This module rebuilds classic HyperLogLog (Flajolet et
al. 2007) on top of md5, the engine-portable hash this repo already
uses for splits/sampling/minhash: any SQL engine computes the same
digests, hence the SAME registers and the SAME estimate — which is what
makes an approximate sketch oracle-checkable bit-for-bit (modulo the
harness's 8-significant-digit float rounding; ln() may differ in the
last ulp across libms).

Scale shape (the reason sketches exist at 100 TB):
- ``hll_registers`` is a plain two-phase aggregate: partial max per
  (group, bucket) happens MAP-SIDE, so the shuffle carries at most
  m=2^p rows per group per input partition — never the distinct values
  themselves. Exact count(DISTINCT url) over 10^12 rows shuffles every
  distinct value; the sketch shuffles ≤256 small ints per group.
- registers MERGE by element-wise max — associative and commutative,
  so sketches roll up hierarchically (per-file → per-day → global) and
  work under retraction-free streaming aggregation.

alpha_m and the small-range (linear-counting) correction follow the
original paper; the 120-bit tail makes the large-range correction
unreachable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def hll_bucket_rho(value: Column, p: int = 8) -> tuple[Column, Column]:
    """The per-row sketch columns ``(bucket, rho)``: bucket = first p
    bits of md5(value) (p must be a multiple of 4 so the bucket is a
    whole hex prefix — keeps the expression portable); rho = 1-based
    position of the first 1-bit in the remaining tail (tail-width+1 if
    all zero). Exposed separately so streaming queries can build
    registers under their own windowed groupBy."""
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    nib = p // 4
    h = F.md5(value.cast("string").cast("binary"))
    tail = F.substring(h, nib + 1, 32 - nib)
    k0 = F.length(F.regexp_extract(tail, "^(0*)", 1))
    first = F.conv(F.substring(tail, k0 + 1, 1), 16, 10).cast("int")
    nibble_lead = (F.when(first >= 8, 0).when(first >= 4, 1)
                   .when(first >= 2, 2).otherwise(3))
    rho = F.when(k0 == (32 - nib), F.lit(4 * (32 - nib) + 1)).otherwise(
        4 * k0 + nibble_lead + 1)
    bucket = F.conv(F.substring(h, 1, nib), 16, 10).cast("int")
    return bucket, rho


def hll_estimate_col(s: Column, present: Column, p: int = 8) -> Column:
    """Estimate from the aggregated register stats: ``s`` =
    Σ 2^-reg over PRESENT buckets, ``present`` = their count. Raw
    estimate with the linear-counting small-range branch."""
    m = 1 << p
    zeros = F.lit(m) - present
    raw = F.lit(_alpha(m) * m * m) / (s + zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0),
                  F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
                  ).otherwise(raw)


def hll_registers(df: DataFrame, group_cols: list[str], value: Column,
                  p: int = 8) -> DataFrame:
    """Per-group HLL register table ``group_cols + (bucket, reg)``.
    Only buckets that saw data appear; absent buckets are register 0 by
    convention (``hll_estimate`` accounts for them)."""
    bucket, rho = hll_bucket_rho(value, p)
    # NULLs don't count toward cardinality (standard HLL); left in,
    # they'd form a NULL-bucket register that inflates `present`
    return (df.where(value.isNotNull())
            .select(*group_cols, bucket.alias("bucket"),
                    rho.alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("reg")))


def hll_estimate(registers: DataFrame, group_cols: list[str],
                 p: int = 8) -> DataFrame:
    """Cardinality estimate per group from a register table:
    raw = alpha_m * m^2 / (sum 2^-reg + zeros), linear counting
    m*ln(m/zeros) when raw <= 2.5m and empty buckets remain."""
    est = (registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("_s"),
        F.count(F.lit(1)).alias("_present"))
        .withColumn("est_distinct",
                    hll_estimate_col(F.col("_s"), F.col("_present"), p)))
    return est.select(*group_cols, "est_distinct")


def hll_distinct(df: DataFrame, group_cols: list[str], value: Column,
                 p: int = 8) -> DataFrame:
    """approx-count-distinct of ``value`` per group via portable HLL."""
    return hll_estimate(hll_registers(df, group_cols, value, p),
                        group_cols, p)


def _cms_bucket(value: Column, depth: int, w: int) -> Column:
    """Row ``depth``'s bucket for ``value``: 32 bits of md5 salted with
    the depth index, mod w. Pure md5+conv — engine-portable."""
    h = F.md5(F.concat(F.lit(f"{depth}:"), value.cast("string"))
              .cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
            % F.lit(w)).cast("int")


def cms_table(df: DataFrame, value: Column, d: int = 4, w: int = 256,
              weight: Column | None = None) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of ``value``'s
    frequency distribution → ``(depth, bucket, cnt)``, d·w rows total.

    Like the HLL above, every hash is salted md5 — the sketch is
    reproducible in any SQL engine, and it MERGES by element-wise SUM
    (sum is two-phase and streams), so per-shard sketches roll up to a
    corpus sketch without touching the raw values again. At 100 TB this
    is the bounded-memory answer to "how often does each head domain /
    token appear": the aggregate shuffles at most d·w counters per
    input partition, never the values, and the d·w-row result
    broadcasts into any estimator join. NULL values don't count,
    mirroring hll_registers."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got d={d}, w={w}")
    wt = F.lit(1).cast("bigint") if weight is None else weight.cast("bigint")
    rows = df.where(value.isNotNull()).select(
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("depth"),
                     _cms_bucket(value, j, w).alias("bucket"))
            for j in range(d)])).alias("_cell"),
        wt.alias("_w"))
    # (d, w) travel WITH the sketch so cms_estimate can never probe
    # with mismatched shape parameters (a wrong w silently
    # under-estimates — the one failure mode CMS must not have)
    return (rows.select("_cell.depth", "_cell.bucket", "_w")
            .groupBy("depth", "bucket")
            .agg(F.sum("_w").alias("cnt"))
            .withColumn("d", F.lit(d)).withColumn("w", F.lit(w)))


_CMS_RESERVED = frozenset({"depth", "bucket", "cnt", "d", "w",
                           "_pd", "_pb", "_cell"})


def cms_estimate(cms: DataFrame, keys: DataFrame,
                 value: Column) -> DataFrame:
    """Point-frequency estimates for every row of ``keys``: est =
    min over the d rows of that value's counter (the classic
    one-sided overestimate — collisions only ever inflate). The sketch
    shape (d, w) is read from the sketch itself, so probes can never
    hash with mismatched parameters. The d·w-row sketch is broadcast
    into the probe join, so estimating frequencies for N keys costs one
    broadcast join + a d-way min — the keys table never shuffles
    against the corpus."""
    clash = _CMS_RESERVED & set(keys.columns)
    if clash:
        raise ValueError(
            f"keys column(s) {sorted(clash)} collide with the sketch's "
            "internal columns — rename them before probing")
    # materialize the (tiny, d·w-row) sketch ONCE: the shape lookup
    # below and the broadcast probe join both read the checkpointed
    # blocks instead of re-running the corpus aggregation twice
    cms = cms.localCheckpoint(eager=True)
    meta = cms.select("d", "w").first()
    if meta is None:
        raise ValueError("empty count-min sketch: nothing was counted")
    d, w = meta["d"], meta["w"]
    key_cols = list(keys.columns)
    probes = keys.select(
        *key_cols,
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("depth"),
                     _cms_bucket(value, j, w).alias("bucket"))
            for j in range(d)])).alias("_cell")
    ).select(*key_cols, F.col("_cell.depth").alias("_pd"),
             F.col("_cell.bucket").alias("_pb"))
    joined = probes.join(
        F.broadcast(cms),
        (probes["_pd"] == cms["depth"]) & (probes["_pb"] == cms["bucket"]),
        "left")
    return (joined.groupBy(*[probes[c] for c in key_cols])
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")))
                 .alias("est_count")))


def cms_sql(table: str, value_sql: str, keys_sql: str, key_col: str,
            d: int = 4, w: int = 256) -> str:
    """DuckDB replay of cms_table + cms_estimate: build the sketch from
    ``table``/``value_sql``, probe it with ``keys_sql`` (a query whose
    column ``key_col`` lists the values to estimate)."""
    def bucket(j: int, v: str) -> str:
        return (f"(('0x' || substring(md5('{j}:' || CAST({v} AS VARCHAR))"
                f", 1, 8))::BIGINT % {w})")

    cells = " UNION ALL ".join(
        f"SELECT {j} AS depth, {bucket(j, value_sql)} AS bucket, "
        f"1::BIGINT AS w FROM {table} WHERE ({value_sql}) IS NOT NULL"
        for j in range(d))
    probes = " UNION ALL ".join(
        f"SELECT {key_col}, {j} AS depth, "
        f"{bucket(j, key_col)} AS bucket FROM keys"
        for j in range(d))
    return f"""
        WITH cms AS (
            SELECT depth, bucket, CAST(sum(w) AS BIGINT) AS cnt
            FROM ({cells}) cells GROUP BY depth, bucket),
        keys AS ({keys_sql}),
        probes AS ({probes})
        SELECT probes.{key_col},
               min(coalesce(cms.cnt, 0)) AS est_count
        FROM probes LEFT JOIN cms USING (depth, bucket)
        GROUP BY probes.{key_col}
    """


def _bloom_bit(value: Column, j: int, m: int) -> Column:
    """Hash function j's bit position for ``value`` — same salted-md5
    construction as the CMS buckets."""
    h = F.md5(F.concat(F.lit(f"{j}:"), value.cast("string"))
              .cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
            % F.lit(m)).cast("int")


def bloom_bits(df: DataFrame, value: Column, k: int = 4,
               m: int = 4096) -> DataFrame:
    """Bloom filter of ``value``'s distinct set → the SET BITS as rows
    ``(bit, k, m)`` (≤ m rows). Completing the portable-sketch trio:
    HLL answers "how many distinct", CMS "how often", Bloom "have I
    seen this" — all on the same salted-md5 hashing, so any SQL engine
    reproduces the identical filter. The bit set merges by plain UNION
    (DISTINCT), streams (distinct per micro-batch, union downstream),
    and broadcasts into probe joins: membership-testing a corpus
    against a holdout costs one broadcast semi-ish join, never a
    shuffle of the corpus — the portable alternative to q98's
    engine-private bloom_filter_agg. (k, m) travel with the bits, as
    with the CMS. NULLs are not members."""
    if k < 1 or m < 2:
        raise ValueError(f"need k >= 1 and m >= 2, got k={k}, m={m}")
    return (df.where(value.isNotNull())
            .select(F.explode(F.array(*[
                _bloom_bit(value, j, m) for j in range(k)])).alias("bit"))
            .distinct()
            .withColumn("k", F.lit(k)).withColumn("m", F.lit(m)))


def bloom_contains(bits: DataFrame, keys: DataFrame,
                   value: Column) -> DataFrame:
    """``keys`` + ``in_bloom``: true iff ALL k of the value's bits are
    set — no false negatives, false positives at the textbook
    (1-e^{-kn/m})^k rate. The ≤m-row bit set is broadcast; the probe
    is one join + a count-of-hits == k per key."""
    clash = {"bit", "k", "m", "_pb"} & set(keys.columns)
    if clash:
        raise ValueError(
            f"keys column(s) {sorted(clash)} collide with the filter's "
            "internal columns — rename them before probing")
    bits = bits.localCheckpoint(eager=True)  # tiny; one materialization
    meta = bits.select("k", "m").first()
    if meta is None:
        raise ValueError("empty bloom filter: nothing was added")
    k, m = meta["k"], meta["m"]
    key_cols = list(keys.columns)
    probes = keys.select(
        *key_cols,
        F.explode(F.array(*[
            _bloom_bit(value, j, m) for j in range(k)])).alias("_pb"))
    joined = probes.join(F.broadcast(bits),
                         probes["_pb"] == bits["bit"], "left")
    return (joined.groupBy(*[probes[c] for c in key_cols])
            .agg((F.count(F.col("bit")) == k).alias("in_bloom")))


def bloom_probe_join(df: DataFrame, bits: DataFrame, value: Column,
                     result_col: str = "in_bloom") -> DataFrame:
    """``df`` + a boolean ``result_col`` — the STATELESS formulation of
    the membership probe: k broadcast LEFT joins (one per hash
    function) against the bit set, ``in_bloom`` = every join hit.
    Unlike :func:`bloom_contains` there is no aggregation, so this form
    drops straight into a STREAMING scan (stream-static broadcast
    joins are stateless — the ingest-time decontamination gate) and
    never reshuffles ``df``. Each bit value is unique in ``bits``, so
    the left joins cannot multiply rows."""
    clash = ({"bit", "k", "m", result_col}
             | {f"_b{j}" for j in range(64)}) & set(df.columns)
    if clash:
        raise ValueError(
            f"df column(s) {sorted(clash)} collide with the probe's "
            "internal columns — rename them before probing")
    bits = bits.localCheckpoint(eager=True)  # tiny; one materialization
    meta = bits.select("k", "m").first()
    if meta is None:
        raise ValueError("empty bloom filter: nothing was added")
    k, m = meta["k"], meta["m"]
    out = df
    for j in range(k):
        bj = bits.select(F.col("bit").alias(f"_b{j}"))
        out = out.join(F.broadcast(bj),
                       _bloom_bit(value, j, m) == F.col(f"_b{j}"), "left")
    hit = F.lit(True)
    for j in range(k):
        hit = hit & F.col(f"_b{j}").isNotNull()
    return out.withColumn(result_col, hit).drop(
        *[f"_b{j}" for j in range(k)])


def bloom_sql(table: str, value_sql: str, keys_sql: str, key_col: str,
              k: int = 4, m: int = 4096) -> str:
    """DuckDB replay of bloom_bits + bloom_contains."""
    def bit(j: int, v: str) -> str:
        return (f"(('0x' || substring(md5('{j}:' || CAST({v} AS VARCHAR))"
                f", 1, 8))::BIGINT % {m})")

    set_bits = " UNION ".join(
        f"SELECT {bit(j, value_sql)} AS bit FROM {table} "
        f"WHERE ({value_sql}) IS NOT NULL"
        for j in range(k))
    probes = " UNION ALL ".join(
        f"SELECT {key_col}, {bit(j, key_col)} AS pb FROM keys"
        for j in range(k))
    return f"""
        WITH bits AS ({set_bits}),
        keys AS ({keys_sql}),
        probes AS ({probes})
        SELECT probes.{key_col},
               (count(bits.bit) = {k}) AS in_bloom
        FROM probes LEFT JOIN bits ON probes.pb = bits.bit
        GROUP BY probes.{key_col}
    """


def hll_sql(table: str, group_cols: list[str], value_sql: str,
            p: int = 8) -> str:
    """The DuckDB replay of hll_distinct — same hash, same registers,
    same float ops (DuckDB lacks conv(); hex→int goes through the
    ('0x'||…)::BIGINT cast instead)."""
    m = 1 << p
    nib = p // 4
    g = ", ".join(group_cols)
    return f"""
        WITH rho AS (
            SELECT {g},
                   CAST(('0x' || substring(md5({value_sql}), 1, {nib}))
                        AS BIGINT) AS bucket,
                   length(regexp_extract(
                       substring(md5({value_sql}), {nib + 1}, {32 - nib}),
                       '^(0*)', 1)) AS k0,
                   TRY_CAST(('0x' || substring(
                       substring(md5({value_sql}), {nib + 1}, {32 - nib}),
                       length(regexp_extract(
                           substring(md5({value_sql}), {nib + 1}, {32 - nib}),
                           '^(0*)', 1)) + 1, 1)) AS BIGINT) AS first
            FROM {table} WHERE ({value_sql}) IS NOT NULL),
        regs AS (
            SELECT {g}, bucket,
                   max(CASE WHEN k0 = {32 - nib} THEN {4 * (32 - nib) + 1}
                            ELSE 4 * k0
                                 + (CASE WHEN first >= 8 THEN 0
                                         WHEN first >= 4 THEN 1
                                         WHEN first >= 2 THEN 2
                                         ELSE 3 END) + 1 END) AS reg
            FROM rho GROUP BY {g}, bucket),
        agg AS (
            SELECT {g},
                   sum(power(2.0, -reg)) AS s,
                   count(*) AS present
            FROM regs GROUP BY {g})
        SELECT {g},
               CASE WHEN ({_alpha(m) * m * m!r} / (s + ({m} - present)))
                         <= {2.5 * m}
                         AND ({m} - present) > 0
                    THEN {float(m)!r} * ln({float(m)!r} / ({m} - present))
                    ELSE {_alpha(m) * m * m!r} / (s + ({m} - present))
               END AS est_distinct
        FROM agg
    """
