"""Complex-event-processing primitives over keyed event streams/tables:
ordered-sequence funnels, strict-contiguity sequences (k >= 2, so
adjacent pairs are the k=2 case), greedy ``A B+ C`` runs and absence.

These are the batch forms of the CEP surface (the streaming session /
stateful operators in streaming/ are their event-time twins). The
window-based ones are pure window/aggregate compositions — one shuffle
on the key, a per-key sort, no UDF, no self-join — so they hold their
shape on 10^12-event tables: the cost is the keyed sort-merge pass,
identical to any sessionization.

Semantics are pinned so an independent SQL engine can replay them
exactly (the driver oracles do):

- ``funnel``: GREEDY-EARLIEST chain, the ClickHouse ``windowFunnel``
  analog. t1 = earliest step-1 event; t_{i} = earliest step-i event
  strictly after t_{i-1}; the reported level counts the chain prefix
  whose events all fall within ``within_s`` of t1. Greedy-earliest is
  deterministic and one-pass; it can miss a later chain that would fit
  the window when the earliest one does not — the standard funnel
  trade-off, documented here rather than hidden.
- ``sequence_match``: MATCH_RECOGNIZE ``PATTERN (S1 ... Sk)`` over the
  keyed (ts, id) order — consecutive-row matches only, with a max gap;
  ``PATTERN (A B)`` adjacency is ``sequence_match(df, [A, B], gap)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

Step = "str | list[str] | tuple[str, ...] | set[str]"


def normalize_steps(steps: list) -> list[list[str]]:
    """Each pattern step is a type name OR a set of alternatives
    (Flink CEP's ``where(a or b)`` / MATCH_RECOGNIZE alternation
    ``(A|B)``). Normalize to sorted alternative-lists; shared by the
    batch and streaming sequence matchers so both twins accept the
    same pattern language."""
    out = []
    for s in steps:
        alts = [s] if isinstance(s, str) else list(s)
        if not alts or not all(isinstance(a, str) for a in alts):
            raise ValueError(f"pattern step must be a type name or a "
                             f"non-empty collection of them, got {s!r}")
        out.append(sorted(set(alts)))
    return out


def funnel(df: DataFrame, steps: list[str], within_s: int,
           key_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type",
           tiebreak_cols: tuple = ()) -> DataFrame:
    """Per-key funnel level over an ordered step-type sequence.

    Output: (key, funnel_level, t_start, t_complete) for every key with
    level >= 1; t_complete is the timestamp of the deepest step reached
    within the window (equals t_start at level 1).

    Implementation: k cumulative-min window columns over ONE keyed sort
    (_m0 = earliest step-0 so far; _mi = earliest step-i so far that is
    strictly after _m{i-1} as known at that row), then a groupBy taking
    each column's partition-wide min. Window ordering includes
    ``tiebreak_cols`` so equal timestamps resolve identically in any
    engine."""
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = (W.partitionBy(key_col).orderBy(*order)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    cur = df.select(key_col, ts_col, type_col, *tiebreak_cols)
    for i, step in enumerate(steps):
        hit = F.col(type_col) == step
        if i > 0:
            hit = hit & (F.col(f"_m{i-1}") < F.col(ts_col))
        cur = cur.withColumn(
            f"_m{i}", F.min(F.when(hit, F.col(ts_col))).over(w)
        )
    per_key = cur.groupBy(key_col).agg(
        *[F.min(f"_m{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    # interval arithmetic (not unix_micros) so TIMESTAMP and
    # TIMESTAMP_NTZ event-time columns both work
    horizon = F.expr(f"INTERVAL {int(within_s)} SECOND")
    in_window = [
        F.when(
            F.col(f"_t{i}").isNotNull()
            & (F.col(f"_t{i}") <= F.col("_t0") + horizon),
            1,
        ).otherwise(0)
        for i in range(len(steps))
    ]
    # chain prefix: step i only counts if every earlier step counted
    # (t_i is built from t_{i-1}, so nulls already cascade; the window
    # cut must cascade the same way)
    level = in_window[0]
    prefix = in_window[0]
    for i in range(1, len(steps)):
        prefix = F.least(prefix, in_window[i])
        level = level + prefix
    # deepest in-window timestamp: coalesce from deepest step downward,
    # masked by the same prefix rule via the level value
    t_complete = F.col("_t0")
    lvl = F.col("funnel_level")
    out = per_key.withColumn("funnel_level", level).where(level >= 1)
    for i in range(1, len(steps)):
        t_complete = F.when(lvl >= i + 1, F.col(f"_t{i}")).otherwise(t_complete)
    return out.select(
        key_col,
        "funnel_level",
        F.col("_t0").alias("t_start"),
        t_complete.alias("t_complete"),
    )


def sequence_match(df: DataFrame, steps: list[str], max_gap_s: int,
                   key_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   id_col: str = "event_id") -> DataFrame:
    """MATCH_RECOGNIZE ``PATTERN (S1 S2 ... Sk)`` with STRICT
    contiguity (Flink CEP ``next()``): k consecutive events per key —
    ordered by (ts, id) so equal timestamps resolve identically in any
    engine — whose types equal ``steps`` in order, every consecutive
    gap <= ``max_gap_s``. Overlapping matches all emit (each window
    position is tested independently, which keeps the operator a pure
    window expression — no iteration, no state).

    Output: (key, t_first, t_last, first_id). Cost: ONE keyed
    sort-merge pass carrying k-1 lead() columns — a single
    Exchange+Sort regardless of k, so the shape holds at 10^12
    events. ``sequence_match_stream`` (streaming/state)
    is the event-time twin; q81's oracle replays this SQL.

    Each step may be a single type name or a collection of
    ALTERNATIVES (MATCH_RECOGNIZE ``(A|B)`` / Flink CEP or-where) —
    the step matches when the event's type is any of them. Pure isin
    predicates on the same window pass: alternation costs nothing."""
    steps = normalize_steps(steps)
    k = len(steps)
    if k < 2:
        raise ValueError(f"sequence_match needs >= 2 steps, got {k}")
    w = W.partitionBy(key_col).orderBy(ts_col, id_col)
    cur = df.select(key_col, ts_col, type_col, id_col)
    for j in range(1, k):
        cur = (cur.withColumn(f"_ty{j}", F.lead(type_col, j).over(w))
               .withColumn(f"_ts{j}", F.lead(ts_col, j).over(w)))
    gap = F.expr(f"INTERVAL {int(max_gap_s)} SECOND")
    cond = F.col(type_col).isin(steps[0])
    for j in range(1, k):
        prev_ts = F.col(ts_col) if j == 1 else F.col(f"_ts{j - 1}")
        cond = (cond & F.col(f"_ty{j}").isin(steps[j])
                & (F.col(f"_ts{j}") <= prev_ts + gap))
    return cur.where(cond).select(
        key_col,
        F.col(ts_col).alias("t_first"),
        F.col(f"_ts{k - 1}").alias("t_last"),
        F.col(id_col).alias("first_id"),
    )


def kleene_match(df: DataFrame, first: Step, mid: Step, last: Step,
                 max_gap_s: int, key_col: str = "user_id",
                 ts_col: str = "ts", type_col: str = "event_type",
                 id_col: str = "event_id") -> DataFrame:
    """MATCH_RECOGNIZE ``PATTERN (A B+ C)`` with STRICT contiguity and
    GREEDY-MAXIMAL quantification: per key — ordered by (ts, id) — an
    event matching ``first``, immediately followed by a MAXIMAL run of
    >=1 consecutive events matching ``mid``, immediately followed by an
    event matching ``last``, every consecutive gap <= ``max_gap_s``.
    Greedy-maximal means the ``B+`` consumes the whole consecutive run:
    ``A B B B C`` emits ONE match with n_mid=3, never the nested
    sub-matches — the deterministic one-answer semantics an independent
    SQL engine can replay (the driver oracle does). Each step accepts
    the same alternation language as ``sequence_match``.

    Output: (key, t_first, t_last, n_mid, first_id) where t_first is
    the A event's timestamp and first_id its id.

    Shape at 10^12 events: run-length encoding as chained window
    expressions over ONE keyed sort (a run breaks where the mid-
    predicate flips or the gap rule fails), then a groupBy on
    (key, run_id) — a refinement of the window's hash partitioning, so
    Catalyst plans NO second Exchange (pinned in tests/test_plans.py).
    Never a self-join, never pattern expansion.
    """
    firsts, mids, lasts = normalize_steps([first, mid, last])
    gap = F.expr(f"INTERVAL {int(max_gap_s)} SECOND")
    w = W.partitionBy(key_col).orderBy(ts_col, id_col)
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ty, ts = F.col(type_col), F.col(ts_col)
    lagged = df.select(key_col, ts_col, type_col, id_col).select(
        "*",
        ty.isin(mids).alias("_ismid"),
        F.lag(type_col).over(w).alias("_lty"),
        F.lag(ts_col).over(w).alias("_lts"),
        F.lag(id_col).over(w).alias("_lid"),
        F.lead(type_col).over(w).alias("_nty"),
        F.lead(ts_col).over(w).alias("_nts"),
    )
    # a mid-run BREAKS where the previous row is absent, not mid, or
    # violates the gap rule; the break row is the run's FIRST row, so
    # its lag_* columns are the A candidate. Symmetrically the run's
    # LAST row is where the next row stops being a gap-respecting mid,
    # and its lead_* columns are the C candidate.
    brk = F.col("_ismid") & (
        F.col("_lty").isNull() | ~F.col("_lty").isin(mids)
        | (ts > F.col("_lts") + gap))
    is_last = (F.col("_nty").isNull() | ~F.col("_nty").isin(mids)
               | (F.col("_nts") > ts + gap))
    runs = lagged.select(
        "*", brk.alias("_brk"), is_last.alias("_islast"),
        F.sum(brk.cast("int")).over(wcum).alias("_run"),
    )
    per_run = (
        runs.where("_ismid")
        .groupBy(key_col, "_run")
        .agg(
            F.count("*").alias("n_mid"),
            F.min(ts_col).alias("_t_mid_first"),
            F.max(ts_col).alias("_t_mid_last"),
            F.max(F.when(F.col("_brk"), F.col("_lty"))).alias("_aty"),
            F.max(F.when(F.col("_brk"), F.col("_lts"))).alias("_ats"),
            F.max(F.when(F.col("_brk"), F.col("_lid"))).alias("_aid"),
            F.max(F.when(F.col("_islast"), F.col("_nty"))).alias("_zty"),
            F.max(F.when(F.col("_islast"), F.col("_nts"))).alias("_zts"),
        )
    )
    return per_run.where(
        F.col("_aty").isin(firsts)
        & (F.col("_t_mid_first") <= F.col("_ats") + gap)
        & F.col("_zty").isin(lasts)
        & (F.col("_zts") <= F.col("_t_mid_last") + gap)
    ).select(
        key_col,
        F.col("_ats").alias("t_first"),
        F.col("_zts").alias("t_last"),
        "n_mid",
        F.col("_aid").alias("first_id"),
    )


def absence_match(df: DataFrame, first: str, second: str, within_s: int,
                  key_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  id_col: str = "event_id") -> DataFrame:
    """CEP NOT-pattern (Flink CEP ``notFollowedBy`` / MATCH_RECOGNIZE
    absence): per key, every event of type ``first`` with NO event of
    type ``second`` in the half-open window ``(ts, ts + within_s]`` —
    the timeout-alert primitive (order placed, never shipped; error
    with no recovery; page fetched, robots never honored).

    Shape: LEFT ANTI join of the A-side against the B-side on the key
    with the interval residual — Spark plans a sort-merge (or, with a
    small B side, broadcast) anti join: one shuffle per side on the
    key, per-key linear merge. The alternative single-window
    formulation (min B-ts over following rows) mis-handles a B tied at
    exactly the A row's timestamp masking a later in-window B, so the
    anti join is the exact form. All arithmetic is INTERVAL-based —
    timezone-free, so an independent engine (the q102 oracle) replays
    it verbatim. ``absence_alert_stream`` (streaming/state) is the
    event-time twin."""
    if within_s <= 0:
        raise ValueError(f"within_s must be positive, got {within_s}")
    a = df.where(F.col(type_col) == first).select(
        key_col, F.col(ts_col).alias("a_ts"), F.col(id_col).alias("a_id"))
    b = df.where(F.col(type_col) == second).select(
        F.col(key_col).alias("_bk"), F.col(ts_col).alias("_bts"))
    gap = F.expr(f"INTERVAL {int(within_s)} SECOND")
    return (
        a.join(
            b,
            (a[key_col] == b["_bk"])
            & (F.col("_bts") > F.col("a_ts"))
            & (F.col("_bts") <= F.col("a_ts") + gap),
            "left_anti",
        )
        .select(key_col, "a_ts", "a_id")
    )
