"""Portable HyperLogLog (functions/sketches.py): md5-based registers,
linear-counting small-range correction."""

import pytest
from pyspark.sql import functions as F

from watermark_detector_spark.functions.sketches import (
    hll_distinct,
    hll_registers,
)


def _vals(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        F.lit("g").alias("g"), F.col("id").alias("v"))


@pytest.mark.parametrize("n", [150, 2000])
def test_estimate_within_sketch_error(spark, n):
    # rsd for m=256 is 1.04/sqrt(256) ~ 6.5%; allow 3 sigma
    est = hll_distinct(_vals(spark, n), ["g"], F.col("v"), p=8).first()
    assert est["est_distinct"] == pytest.approx(n, rel=0.2)


def test_small_range_uses_linear_counting(spark):
    # 10 distinct values leave most of the 256 buckets empty: the
    # linear-counting branch fires and is near-exact at this range
    est = hll_distinct(_vals(spark, 10), ["g"], F.col("v"), p=8).first()
    assert est["est_distinct"] == pytest.approx(10, rel=0.05)


def test_nulls_do_not_count(spark):
    with_nulls = _vals(spark, 10).unionByName(
        _vals(spark, 3).select("g", F.lit(None).cast("long").alias("v")))
    est = hll_distinct(with_nulls, ["g"], F.col("v"), p=8).first()
    assert est["est_distinct"] == pytest.approx(10, rel=0.05)
    # a group of only NULLs has no registers -> absent from the output
    only_null = _vals(spark, 3).select(
        "g", F.lit(None).cast("long").alias("v"))
    assert hll_distinct(only_null, ["g"], F.col("v")).count() == 0


def _skewed(spark):
    # Zipf-ish: value v appears (20 - v) times for v in 0..19
    return spark.range(20).selectExpr(
        "explode(sequence(1, 20 - id)) AS _i", "id AS v").select("v")


def test_cms_never_underestimates_and_is_exact_without_collisions(spark):
    from watermark_detector_spark.functions.sketches import (
        cms_estimate,
        cms_table,
    )

    df = _skewed(spark)
    exact = {r["v"]: r["n"] for r in
             df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    # tight sketch (w=8): collisions certain, but never an underestimate
    tight = cms_estimate(cms_table(df, F.col("v"), d=3, w=8),
                         df.distinct(), F.col("v"))
    for r in tight.collect():
        assert r["est_count"] >= exact[r["v"]]
    # roomy sketch (w=1024, d=4): 20 keys collide with prob ~0 -> exact
    roomy = cms_estimate(cms_table(df, F.col("v"), d=4, w=1024),
                         df.distinct(), F.col("v"))
    assert {r["v"]: r["est_count"] for r in roomy.collect()} == exact


def test_cms_merges_by_sum(spark):
    from watermark_detector_spark.functions.sketches import cms_table

    df = _skewed(spark)
    a, b = df.where("v < 10"), df.where("v >= 10")
    merged = (cms_table(a, F.col("v"), d=2, w=16)
              .unionByName(cms_table(b, F.col("v"), d=2, w=16))
              .groupBy("depth", "bucket", "d", "w")
              .agg(F.sum("cnt").alias("cnt")))
    direct = cms_table(df, F.col("v"), d=2, w=16)
    as_map = lambda t: {(r["depth"], r["bucket"]): r["cnt"]
                        for r in t.collect()}
    assert as_map(merged) == as_map(direct)


def test_cms_validates_shape(spark):
    from watermark_detector_spark.functions.sketches import (
        cms_estimate,
        cms_table,
    )

    with pytest.raises(ValueError, match="d >= 1"):
        cms_table(_skewed(spark), F.col("v"), d=0, w=16)
    cms = cms_table(_skewed(spark), F.col("v"), d=2, w=16)
    with pytest.raises(ValueError, match="collide"):
        cms_estimate(cms, _skewed(spark).withColumnRenamed("v", "cnt"),
                     F.col("cnt"))
    empty = cms_table(_skewed(spark).where("v < 0"), F.col("v"))
    with pytest.raises(ValueError, match="empty count-min"):
        cms_estimate(empty, _skewed(spark).distinct(), F.col("v"))


def test_bloom_no_false_negatives_and_roomy_exactness(spark):
    from watermark_detector_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
    )

    members = spark.range(50).select(F.col("id").alias("v"))
    probes = spark.range(200).select(F.col("id").alias("v"))
    # tight filter: every member MUST test positive (no false negative)
    tight = bloom_contains(bloom_bits(members, F.col("v"), k=3, m=64),
                           probes, F.col("v"))
    got = {r["v"]: r["in_bloom"] for r in tight.collect()}
    assert all(got[v] for v in range(50))
    # roomy filter: membership is exact for this key count
    roomy = bloom_contains(bloom_bits(members, F.col("v"), k=3, m=65536),
                           probes, F.col("v"))
    assert {r["v"] for r in roomy.collect() if r["in_bloom"]} == set(
        range(50))


def test_bloom_bits_merge_by_union(spark):
    from watermark_detector_spark.functions.sketches import bloom_bits

    a = spark.range(30).select(F.col("id").alias("v"))
    b = spark.range(20, 60).select(F.col("id").alias("v"))
    both = a.unionByName(b)
    merged = (bloom_bits(a, F.col("v"), k=2, m=128)
              .unionByName(bloom_bits(b, F.col("v"), k=2, m=128))
              .distinct())
    direct = bloom_bits(both, F.col("v"), k=2, m=128)
    as_set = lambda t: {r["bit"] for r in t.collect()}
    assert as_set(merged) == as_set(direct)


def test_bloom_probe_join_matches_aggregate_form(spark):
    """The stateless k-join probe (streaming-safe) and the groupBy
    probe must agree verdict-for-verdict, and the joins must not
    multiply rows."""
    from watermark_detector_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
        bloom_probe_join,
    )

    members = spark.range(40).select(F.col("id").alias("v"))
    probes = spark.range(150).select(F.col("id").alias("v"))
    bits = bloom_bits(members, F.col("v"), k=3, m=64)
    via_join = {r["v"]: r["in_bloom"] for r in
                bloom_probe_join(probes, bits, F.col("v")).collect()}
    via_agg = {r["v"]: r["in_bloom"] for r in
               bloom_contains(bits, probes, F.col("v")).collect()}
    assert via_join == via_agg
    assert len(via_join) == 150  # no row multiplication
    with pytest.raises(ValueError, match="collide"):
        bloom_probe_join(probes.withColumnRenamed("v", "bit"), bits,
                         F.col("bit"))


def test_bloom_validates(spark):
    from watermark_detector_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
    )

    df = spark.range(5).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="k >= 1"):
        bloom_bits(df, F.col("v"), k=0)
    bits = bloom_bits(df, F.col("v"), k=2, m=64)
    with pytest.raises(ValueError, match="collide"):
        bloom_contains(bits, df.withColumnRenamed("v", "bit"),
                       F.col("bit"))
    with pytest.raises(ValueError, match="empty bloom"):
        bloom_contains(bloom_bits(df.where("v < 0"), F.col("v")),
                       df, F.col("v"))


def test_hll_validates_precision(spark):
    with pytest.raises(ValueError, match="multiple of 4"):
        hll_registers(_vals(spark, 5), ["g"], F.col("v"), p=10)
