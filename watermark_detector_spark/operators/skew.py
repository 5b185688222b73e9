"""Skew handling: salted two-phase aggregation and salted joins for hot
keys.

The page distribution over domains is Zipf-skewed (a handful of head
domains carry a large share of a Common-Crawl-style corpus), and event
streams have dominant event types. A naive ``groupBy(key)`` sends every
hot-key row to one reducer (one state-store partition when streaming) —
the straggler that kills scaling efficiency at 1000 executors.

Two-phase salted aggregation: phase 1 groups by (key, salt) where
salt = hash(id) % k — k-way fan-out of each hot key, combined map-side;
phase 2 re-aggregates the k partials per key (tiny input). AQE's
skew-join splitting handles the join case; ``salted_join`` is the
manual fallback when it cannot apply. Decomposable aggregates only
(count/sum/min/max + count-distinct via two-level exact or approx
sketch merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_windowed_stream_agg(events: DataFrame, time_col: str = "ts",
                               key_col: str = "event_type",
                               value_col: str = "value",
                               window: str = "5 minutes",
                               delay: str = "10 minutes", k: int = 16,
                               salt_src: str = "event_id") -> DataFrame:
    """Skew-proof STREAMING windowed aggregation: salt → partial window
    agg → same-window re-agg, under ONE event-time watermark.

    A hot key (head domain / dominant event type) would otherwise
    concentrate a window's entire state and update traffic on ONE
    state-store partition — the straggler that stalls every micro-batch
    commit at 1000 executors. Phase 1 keys state by (window, key, salt)
    so a hot key's rows fan out k ways (k stores update in parallel,
    each holding 1/k of the hot key's partials); phase 2 re-aggregates the
    ≤k partial rows per (window, key) — Spark 3.4+ chained stateful
    aggregation, both phases sharing the one watermark, emission still
    "window end <= watermark" because the re-window has the SAME width
    (window-of-window with equal size is the identity partition).

    Decomposable aggregates only (count/sum here — min/max merge the
    same way). Result is row-identical to the unsalted
    ``groupBy(window, key)`` agg (asserted in tests and oracled by
    q125); only the state layout changes. Returns
    (window_start, key, n_events, sum_value) in append mode."""
    salted = events.withWatermark(time_col, delay).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(k)))
    partial = (
        salted.groupBy(F.window(time_col, window).alias("_w"),
                       F.col(key_col), F.col("_salt"))
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(value_col).alias("_s"))
    )
    return (
        partial.groupBy(F.window(F.col("_w"), window).alias("win"),
                        F.col(key_col))
        .agg(F.sum("_n").alias("n_events"),
             F.round(F.sum("_s"), 4).alias("sum_value"))
    )


def salted_join(big: DataFrame, small: DataFrame, on: str, k: int = 16,
                big_salt_col: str | None = None) -> DataFrame:
    """Skew-proof equi-join: salt the BIG side k ways on a per-row hash,
    replicate the SMALL side across all k salts, join on (key, salt).

    A hot key's rows land on k reducers instead of one — the manual
    fallback when AQE's skew-join splitting can't apply (e.g. the hot
    side feeds a co-grouped operator, or stats are missing). Result is
    row-identical to the plain join (t:test_salted_join_equals_plain).
    Cost: small side shuffled k× — keep k modest and the small side
    genuinely small (it usually also fits broadcast, which is cheaper;
    salting matters when BOTH sides are too big to broadcast)."""
    salt_src = F.col(big_salt_col) if big_salt_col else F.monotonically_increasing_id()
    b = big.withColumn("_salt", F.pmod(F.xxhash64(salt_src), F.lit(k)))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    ).withColumn("_salt", F.col("_salt").cast(b.schema["_salt"].dataType))
    return b.join(s, [on, "_salt"]).drop("_salt")
