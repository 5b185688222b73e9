"""Custom stateful operators over the Structured Streaming state store.

The reference's only stateful computation is the running-min validation
loss that triggers a best-model checkpoint (train_watermarks.py:127,
161-163). Its engine analog: per-key running state via
``applyInPandasWithState`` — arbitrary state schema, watermark-aware
timeouts, RocksDB-backed when the provider is configured
(session.engine_conf).

Operators:
- ``track_best``   — per-domain running best score + totals; emits a
  commit record only on improvement (checkpoint-on-improve analog).
- ``session_stats`` — per-domain session aggregation with event-time
  timeout (the reference's dilation-gap region merging,
  train_watermarks.py:65-67, lifted to event time).
- ``sequence_match_stream``, ``funnel_stream``, ``kleene_match_stream``,
  ``absence_alert_stream`` — the event-time twins of the batch CEP
  operators in operators/cep.py. All four run on ONE per-user
  event-buffer skeleton (``_per_user_stream`` + ``_event_buffer_fn``):
  read the buffered events from state, add the rows at or above the
  watermark, sort by (ts, id), then hand the buffer to the operator's
  step, which finalizes the events below the watermark, keeps what a
  future match still needs and arms (or expires) the event-time timer
  (``_keep_until``).
- ``near_dup_gate_stream`` — minhash-LSH first-arrival dedup gate keyed
  on band buckets.
"""

from __future__ import annotations

import contextlib
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BEST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("best_score", T.DoubleType(), False),
        T.StructField("n_improvements", T.LongType(), False),
        T.StructField("n_seen", T.LongType(), False),
    ]
)
BEST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("best_score", T.DoubleType(), True),
        T.StructField("n_improvements", T.LongType(), True),
        T.StructField("n_seen", T.LongType(), True),
    ]
)


def _track_best_fn(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running best (max) score per domain; emit only on improvement —
    the analog of `if mean_loss < best: save('best_model')`
    (train_watermarks.py:161-163), with max-score instead of min-loss."""
    (domain,) = key
    if state.exists:
        best, n_impr, n_seen = state.get
    else:
        best, n_impr, n_seen = float("-inf"), 0, 0
    improved = False
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        n_seen += len(pdf)
        batch_max = float(pdf["score"].max())
        if batch_max > best:
            best = batch_max
            n_impr += 1
            improved = True
    state.update((best, n_impr, n_seen))
    if improved:
        yield pd.DataFrame(
            [{"domain": domain, "best_score": best,
              "n_improvements": n_impr, "n_seen": n_seen}]
        )


def track_best(kept: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """kept detections stream → per-domain improvement records."""
    return (
        kept.withWatermark("warc_ts", watermark)
        .groupBy("domain")
        .applyInPandasWithState(
            _track_best_fn,
            outputStructType=BEST_OUTPUT_SCHEMA,
            stateStructType=BEST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("n_detections", T.LongType(), False),
        T.StructField("max_score", T.DoubleType(), False),
    ]
)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("end_us", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("max_score", T.DoubleType(), True),
    ]
)

_US = 1_000_000


def _micros(ts: pd.Series):
    """Event-time column → int64 epoch microseconds (floored) — the one
    ts→µs conversion every operator in this module uses."""
    return ts.values.astype("datetime64[ns]").astype("int64") // 1000


def _session_fn_factory(gap_s: int):
    gap_us = gap_s * _US

    def _fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (domain,) = key
        out: list[dict[str, Any]] = []
        if state.hasTimedOut:
            if state.exists:
                s, e, n, mx = state.get
                out.append({"domain": domain,
                            "session_start": pd.Timestamp(s, unit="us"),
                            "session_end": pd.Timestamp(e + gap_us, unit="us"),
                            "n_detections": n, "max_score": mx})
            state.remove()
            yield pd.DataFrame(out)
            return
        if state.exists:
            s, e, n, mx = state.get
        else:
            s, e, n, mx = None, None, 0, float("-inf")
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values("warc_ts")
        for t, score in zip(_micros(rows["warc_ts"]), rows["score"]):
            t = int(t)
            if s is None:
                s, e, n, mx = t, t, 1, float(score)
            elif t - e <= gap_us:
                e, n, mx = max(e, t), n + 1, max(mx, float(score))
            else:
                out.append({"domain": domain,
                            "session_start": pd.Timestamp(s, unit="us"),
                            "session_end": pd.Timestamp(e + gap_us, unit="us"),
                            "n_detections": n, "max_score": mx})
                s, e, n, mx = t, t, 1, float(score)
        state.update((s, e, n, mx))
        # close the open session when no event arrives within the gap
        state.setTimeoutTimestamp(e // 1000 + gap_s * 1000)  # ms epoch
        if out:
            yield pd.DataFrame(out)

    return _fn


# ---------------------------------------------------------------------------
# per-user event-buffer skeleton shared by the streaming CEP operators
# ---------------------------------------------------------------------------

# (ts_us, event_type, event_id) triples, sorted by (ts, id)
_Buffer = list[tuple[int, str, int]]
_StepFn = Callable[[Any, _Buffer, list, int, GroupState],
                   list[dict[str, Any]]]


def _buffer_state_schema(*extra: T.StructField) -> T.StructType:
    """Every CEP operator's state: its event buffer as three parallel
    arrays, followed by the operator's own fields."""
    return T.StructType([
        T.StructField("ts_us", T.ArrayType(T.LongType()), True),
        T.StructField("types", T.ArrayType(T.StringType()), True),
        T.StructField("ids", T.ArrayType(T.LongType()), True),
        *extra,
    ])


def _write(state: GroupState, buf: _Buffer, *extra) -> None:
    state.update(([r[0] for r in buf], [r[1] for r in buf],
                  [r[2] for r in buf], *extra))


def _keep_until(state: GroupState, buf: _Buffer, extra: tuple, wm_us: int,
                fire_us: int | None) -> None:
    """Keep ``buf`` and ``extra`` and wake the key once the watermark
    passes ``fire_us``. A fire time already below the watermark (or
    None) means nothing kept can matter anymore: the state row is
    dropped, which is what bounds state for keys that go silent."""
    if fire_us is None or fire_us < wm_us:
        state.remove()
    else:
        _write(state, buf, *extra)
        state.setTimeoutTimestamp(fire_us // 1000 + 1)


def _event_buffer_fn(step: _StepFn, fresh: tuple):
    """Read the key's buffer and fields from state (``fresh`` fields for
    a new key), add the rows at or above the watermark — later rows are
    late and dropped, the same late-data contract as the windowed
    aggregations; a timeout call carries no rows — sort by (ts, id), and
    let ``step`` finalize, write the state back and return output rows."""

    def _fn(key: tuple, pdf_iter: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        (user,) = key
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            ts_l, ty_l, id_l, *extra = state.get
            buf = list(zip(ts_l, ty_l, id_l))
        else:
            buf, extra = [], list(fresh)
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                for t, ty, eid in zip(_micros(pdf["ts"]), pdf["event_type"],
                                      pdf["event_id"]):
                    if t >= wm_us:
                        buf.append((int(t), str(ty), int(eid)))
        buf.sort(key=lambda r: (r[0], r[2]))
        out = step(user, buf, extra, wm_us, state)
        if out:
            yield pd.DataFrame(out)

    return _fn


def _per_user_stream(events: DataFrame, watermark: str, step: _StepFn,
                     fresh: tuple, output_schema: T.StructType,
                     state_schema: T.StructType,
                     output_mode: str = "append") -> DataFrame:
    return (
        events.select("user_id", "ts", "event_type", "event_id")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _event_buffer_fn(step, fresh),
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _n_final(buf: _Buffer, wm_us: int) -> int:
    """Length of the FINALIZED prefix of a sorted buffer: events strictly
    below the watermark, between which no event can land anymore."""
    return sum(1 for r in buf if r[0] < wm_us)


SEQUENCE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("t_first", T.TimestampType(), False),
        T.StructField("t_last", T.TimestampType(), False),
        T.StructField("first_id", T.LongType(), False),
    ]
)
SEQUENCE_STATE_SCHEMA = _buffer_state_schema(
    T.StructField("n_tail", T.LongType(), True))


def _sequence_step(steps: list, max_gap_s: int) -> _StepFn:
    from watermark_detector_spark.operators.cep import normalize_steps

    # alternation support: each step is a set of acceptable type names
    # (singletons for plain patterns) — same pattern language as the
    # batch twin, normalized by the same helper
    step_sets = [frozenset(alts) for alts in normalize_steps(steps)]
    gap_us = max_gap_s * _US
    k = len(step_sets)

    def step(user, buf, extra, wm_us, state):
        (n_tail,) = extra
        # Tail entries all have ts < the watermark at the batch that
        # finalized them, pending/new entries have ts >= it — so after
        # the sort the old tail is still exactly buf[:n_tail] and
        # contiguity within the finalized prefix is immutable (any
        # future arrival has ts >= wm > every finalized ts).
        n_final = _n_final(buf, wm_us)
        out = []
        # windows ENDING in a newly-finalized event are newly decided;
        # windows ending inside the old tail were emitted already
        for i in range(max(k - 1, n_tail), n_final):
            win = buf[i - k + 1:i + 1]
            if all(win[j][1] in step_sets[j] for j in range(k)) and all(
                    win[j][0] - win[j - 1][0] <= gap_us
                    for j in range(1, k)):
                out.append({"user_id": user,
                            "t_first": pd.Timestamp(win[0][0], unit="us"),
                            "t_last": pd.Timestamp(win[-1][0], unit="us"),
                            "first_id": win[0][2]})
        keep = buf[max(0, n_final - (k - 1)):]
        # wake when the earliest pending event finalizes. With only the
        # tail left: any future match through it must chain
        # consecutively through its LAST element, and future events have
        # ts >= wm — once wm > tail_last + gap no such chain can satisfy
        # the gap rule, so the tail expires then.
        fire_us = next((r[0] for r in keep if r[0] >= wm_us),
                       keep[-1][0] + gap_us if keep else None)
        _keep_until(state, keep, (min(k - 1, n_final),), wm_us, fire_us)
        return out

    return step


def sequence_match_stream(events: DataFrame, steps: list[str],
                          max_gap_s: int,
                          watermark: str = "30 minutes") -> DataFrame:
    """Streaming k-step CEP with strict contiguity (the event-time twin
    of operators/cep.sequence_match): per-user, emit (t_first, t_last,
    first_id) whenever k CONSECUTIVE events match ``steps`` in order
    with every consecutive gap <= ``max_gap_s``, decided only once the
    window's last event drops below the event-time watermark (no event
    can then ever be inserted inside the window). k=2 is MATCH_RECOGNIZE
    ``PATTERN (A B)`` adjacency (q74). Out-of-order arrivals above the
    watermark are buffered; state per key is the pending buffer
    (bounded by the watermark horizon x event rate) plus the last k-1
    finalized events — retained as possible prefixes of future windows
    and EXPIRED via an event-time timer once the watermark passes
    tail_last + max_gap (state stays bounded for inactive keys). Late
    events drop with the same semantics as windowed aggregations.
    Emission contract (what the q74/q81 oracles replay): exactly the
    matches whose last event time is strictly below the final
    watermark."""
    if len(steps) < 2:
        # fail on the driver with the same contract as the batch twin —
        # an empty/1-step list would otherwise die inside an executor
        # (IndexError) or silently diverge from sequence_match
        raise ValueError(
            f"sequence_match_stream needs >= 2 steps, got {len(steps)}")
    return _per_user_stream(events, watermark,
                            _sequence_step(list(steps), max_gap_s), (0,),
                            SEQUENCE_OUTPUT_SCHEMA, SEQUENCE_STATE_SCHEMA)


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("funnel_level", T.IntegerType(), False),
        T.StructField("t_start", T.TimestampType(), False),
        T.StructField("t_complete", T.TimestampType(), False),
    ]
)
FUNNEL_STATE_SCHEMA = _buffer_state_schema(
    T.StructField("chain_us", T.ArrayType(T.LongType()), True))

_UNSET = -1


def _funnel_step(steps: list[str], within_s: int,
                 state_ttl_s: int | None) -> _StepFn:
    horizon_us = within_s * _US
    k = len(steps)

    def step(user, buf, extra, wm_us, state):
        chain = list(extra[0])
        if state.hasTimedOut and state_ttl_s is not None and not buf:
            # TTL expiry: nothing pending arrived for state_ttl_s of
            # event time — drop the chain (chain-restart semantics the
            # caller opted into; a later event for this key starts a
            # fresh chain at step 0).
            state.remove()
            return []
        # advance the greedy chain over the FINALIZED prefix, in event-
        # time order — identical to the batch funnel restricted to
        # events below the final watermark
        n_final = _n_final(buf, wm_us)
        changed = False
        for t_us, ty, _ in buf[:n_final]:
            for i in range(k):
                if chain[i] == _UNSET:
                    if ty == steps[i] and (i == 0 or (chain[i - 1] != _UNSET
                                                      and chain[i - 1] < t_us)):
                        chain[i] = t_us
                        changed = True
                    break  # only the next unset step can advance
        pending = buf[n_final:]
        if chain[0] == _UNSET and not pending:
            state.remove()
        else:
            _write(state, pending, chain)
            if pending:
                state.setTimeoutTimestamp(pending[0][0] // 1000 + 1)
            elif state_ttl_s is not None:
                # no pending work: arm the expiry timer so an inactive
                # key's chain state is reclaimed after state_ttl_s of
                # event time instead of living for the query lifetime
                state.setTimeoutTimestamp(wm_us // 1000
                                          + state_ttl_s * 1000)
        if not changed:
            return []
        level, t_complete = 0, chain[0]
        for i in range(k):
            if chain[i] == _UNSET or chain[i] - chain[0] > horizon_us:
                break
            level, t_complete = i + 1, chain[i]
        return [{"user_id": user, "funnel_level": level,
                 "t_start": pd.Timestamp(chain[0], unit="us"),
                 "t_complete": pd.Timestamp(t_complete, unit="us")}]

    return step


def funnel_stream(events: DataFrame, steps: list[str], within_s: int,
                  watermark: str = "30 minutes",
                  state_ttl_s: int | None = None) -> DataFrame:
    """Streaming k-step funnel (the event-time twin of
    operators/cep.funnel): per-user greedy-earliest chain over the step
    sequence, advanced incrementally as events FINALIZE (drop below the
    event-time watermark) so out-of-order arrival cannot corrupt the
    greedy order. Emits an UPDATED (level, t_start, t_complete) record
    whenever newly finalized events extend the chain — update output
    mode; the latest record per key equals the batch funnel computed
    over exactly the events below the final watermark (the q75 oracle
    replays that). Buffered state is bounded by the watermark horizon x
    per-key event rate; chain state is k longs PER KEY and — with the
    default ``state_ttl_s=None`` — is retained for the QUERY LIFETIME,
    i.e. unbounded in the number of distinct keys. That retention is
    what the greedy-earliest/batch-equivalence contract requires (a key
    silent for a month may still extend its chain later), so it is the
    default; callers running unbounded-cardinality streams who accept
    chain-RESTART semantics can pass ``state_ttl_s`` to reclaim state
    for keys inactive (no pending events) for that much event time —
    a later event for an expired key starts a fresh chain at step 0,
    the same expiry-timer design as sequence_match_stream. Late
    events drop with the same semantics as the windowed aggregations."""
    steps = list(steps)
    return _per_user_stream(events, watermark,
                            _funnel_step(steps, within_s, state_ttl_s),
                            ([_UNSET] * len(steps),), FUNNEL_OUTPUT_SCHEMA,
                            FUNNEL_STATE_SCHEMA, output_mode="update")


KLEENE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("t_first", T.TimestampType(), False),
        T.StructField("t_last", T.TimestampType(), False),
        T.StructField("n_mid", T.LongType(), False),
        T.StructField("first_id", T.LongType(), False),
    ]
)
# pending buffer + an O(1) run-length automaton: the previous finalized
# event (adjacency/A-candidate) and the current mid-run accumulator.
# -1 sentinels stand in for "absent" (state columns can't be scalar
# NULLs across the Arrow boundary without object-dtype churn).
KLEENE_STATE_SCHEMA = _buffer_state_schema(
    T.StructField("prev_ts_us", T.LongType(), True),
    T.StructField("prev_type", T.StringType(), True),
    *(T.StructField(name, T.LongType(), True)
      for name in ("prev_id", "a_ok", "a_ts_us", "a_id", "n_mid",
                   "last_mid_ts_us")))


def _kleene_step(first, mid, last, max_gap_s: int) -> _StepFn:
    from watermark_detector_spark.operators.cep import normalize_steps

    firsts, mids, lasts = (frozenset(s)
                           for s in normalize_steps([first, mid, last]))
    gap_us = max_gap_s * _US

    def step(user, buf, extra, wm_us, state):
        prev_ts, prev_ty, prev_id, a_ok, a_ts, a_id, n_mid, last_mid = extra
        n_final = _n_final(buf, wm_us)
        out = []
        # advance the automaton over the newly FINALIZED prefix — the
        # exact incremental form of the batch RLE (operators/cep.
        # kleene_match): a mid event extends the run iff its immediate
        # predecessor was a gap-respecting mid, else starts a fresh run
        # whose A-candidate is that predecessor; a non-mid event closes
        # the run, emitting iff it is a gap-respecting ``last`` and the
        # run opened with a gap-respecting ``first``.
        for t_us, ty, eid in buf[:n_final]:
            if ty in mids:
                if n_mid > 0 and t_us <= last_mid + gap_us:
                    n_mid += 1
                else:
                    a_ok = int(prev_ts >= 0 and prev_ty in firsts
                               and t_us <= prev_ts + gap_us)
                    a_ts, a_id, n_mid = prev_ts, prev_id, 1
                last_mid = t_us
            else:
                if (n_mid > 0 and a_ok and ty in lasts
                        and t_us <= last_mid + gap_us):
                    out.append({"user_id": user,
                                "t_first": pd.Timestamp(a_ts, unit="us"),
                                "t_last": pd.Timestamp(t_us, unit="us"),
                                "n_mid": n_mid,
                                "first_id": a_id})
                n_mid = 0
            prev_ts, prev_ty, prev_id = t_us, ty, eid
        # finalized events are folded into the automaton, never kept.
        # With nothing pending, the last finalized event can still be
        # the A (or the run can still extend/close): both require a
        # future event within gap of prev_ts, and future events have
        # ts >= wm — expire once the watermark passes prev_ts + gap.
        pending = buf[n_final:]
        fire_us = (pending[0][0] if pending
                   else prev_ts + gap_us if prev_ts >= 0 else None)
        _keep_until(state, pending, (prev_ts, prev_ty, prev_id, a_ok, a_ts,
                                     a_id, n_mid, last_mid), wm_us, fire_us)
        return out

    return step


def kleene_match_stream(events: DataFrame, first, mid, last,
                        max_gap_s: int,
                        watermark: str = "30 minutes") -> DataFrame:
    """STREAMING ``PATTERN (A B+ C)`` with strict contiguity and
    greedy-maximal quantification — the event-time twin of
    operators/cep.kleene_match. Events are buffered above the
    watermark and fed to an O(1)-state run-length automaton in
    finalized event-time order, so out-of-order arrival cannot corrupt
    the run structure; a match emits in the micro-batch where its C
    event drops below the watermark. Unlike the k-step matcher the
    automaton never retains finalized events — state is the pending
    buffer plus eight scalars (previous event + run accumulator),
    regardless of how long a B+ run grows, and expires via event-time
    timer once the watermark passes last_event + max_gap. Emission
    contract (what the driver oracle replays): exactly the batch
    ``kleene_match`` over the events strictly below the final
    watermark."""
    return _per_user_stream(events, watermark,
                            _kleene_step(first, mid, last, max_gap_s),
                            (-1, "", -1, 0, -1, -1, 0, -1),
                            KLEENE_OUTPUT_SCHEMA, KLEENE_STATE_SCHEMA)


ABSENCE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("a_ts", T.TimestampType(), False),
        T.StructField("a_id", T.LongType(), False),
    ]
)
ABSENCE_STATE_SCHEMA = _buffer_state_schema()


def _absence_step(first_type: str, second_type: str, within_s: int) -> _StepFn:
    within_us = within_s * _US

    def step(user, buf, extra, wm_us, state):
        # the buffer holds the undecided A's and the B's that can still
        # suppress an out-of-order A (with first_type == second_type
        # every event is an A).
        # Suppression: an A with ANY B in (a, a+within] will never
        # alert. Re-checking against the full retained B set is exact:
        # B's pruned below the watermark were already applied in their
        # arrival batch, and no future A can pair with them (a future
        # A has ts >= wm > pruned b, so b is not after it). A late B
        # was dropped on arrival, so it cannot retro-suppress.
        b_ts = [t for t, ty, _ in buf if ty == second_type != first_type]
        out, keep = [], []
        for t, ty, eid in buf:
            if ty == first_type:
                if any(t < b <= t + within_us for b in b_ts):
                    continue
                # absence is PROVEN once the watermark passes a + within:
                # no suppressing B can arrive anymore
                if t + within_us < wm_us:
                    out.append({"user_id": user,
                                "a_ts": pd.Timestamp(t, unit="us"),
                                "a_id": eid})
                else:
                    keep.append((t, ty, eid))
            elif ty == second_type and t >= wm_us:
                # a B below the watermark can never suppress a future A
                keep.append((t, ty, eid))
        # fire when the earliest pending decision finalizes; with only
        # B's left, when the watermark sweeps past them (state then
        # collapses — bounded state for inactive keys)
        fire_us = next((t + within_us for t, ty, _ in keep
                        if ty == first_type),
                       keep[-1][0] if keep else None)
        _keep_until(state, keep, (), wm_us, fire_us)
        return out

    return step


def absence_alert_stream(events: DataFrame, first_type: str,
                         second_type: str, within_s: int,
                         watermark: str = "30 minutes") -> DataFrame:
    """Streaming CEP NOT-pattern (the event-time twin of
    operators/cep.absence_match; Flink CEP ``notFollowedBy`` with a
    time bound): per key, ALERT on every ``first_type`` event that is
    NOT followed by a ``second_type`` event within ``within_s``
    seconds — the timeout-alert primitive (order never shipped, error
    never recovered).

    Absence is only decidable once no suppressing event can still
    arrive, i.e. once the event-time watermark passes ``a + within``;
    pending A's buffer in state until then, B's buffer while they can
    still suppress a future out-of-order A (ts >= watermark), and an
    event-time timeout finalizes silent keys — state is bounded by
    horizon x per-key rate on both sides. Late events (below the
    watermark on arrival) are dropped, so a late B does not
    retro-suppress — identical late-data semantics to the windowed
    aggregations. Emission contract (what the q103 oracle replays):
    exactly the A events with no B in ``(a_ts, a_ts + within]`` whose
    deadline ``a_ts + within`` lies strictly below the final watermark
    (max event time, ms floor, minus the delay)."""
    return _per_user_stream(events, watermark,
                            _absence_step(first_type, second_type, within_s),
                            (), ABSENCE_OUTPUT_SCHEMA, ABSENCE_STATE_SCHEMA)


_GAP_UNIT_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def parse_gap_seconds(gap: str) -> int:
    """'<n> <unit>' → seconds; raises on any unrecognized unit instead
    of silently misparsing ('1 hour' treated as seconds was a footgun)."""
    num, _, unit = gap.strip().partition(" ")
    unit = unit.strip().lower()
    if not num.isdigit() or unit not in _GAP_UNIT_S:
        raise ValueError(
            f"unparseable gap {gap!r}: expected '<int> "
            f"{'|'.join(sorted(set(_GAP_UNIT_S)))}'"
        )
    return int(num) * _GAP_UNIT_S[unit]


def session_stats(kept: DataFrame, gap: str = "5 minutes",
                  watermark: str = "10 minutes") -> DataFrame:
    """Custom sessionization via the state store (EventTimeTimeout) —
    the hand-rolled equivalent of ``F.session_window`` demonstrating
    applyInPandasWithState with timeouts; q43/q50 call the built-in
    ``F.session_window`` inline."""
    gap_s = parse_gap_seconds(gap)
    return (
        kept.withWatermark("warc_ts", watermark)
        .groupBy("domain")
        .applyInPandasWithState(
            _session_fn_factory(gap_s),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming near-duplicate gate (minhash-LSH bucket dedup at ingest)
# ---------------------------------------------------------------------------

NEARDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("band_first", T.BooleanType(), False),
    ]
)
NEARDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_ts_us", T.LongType(), True),
        T.StructField("first_id", T.LongType(), True),
    ]
)


def _neardup_fn_factory(state_ttl_s: int | None = None):
    def _fn(key: tuple, pdf_iter: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        band, _minhash = int(key[0]), key[1]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            first_ts, first_id = (int(v) for v in state.get)
        else:
            first_ts, first_id = _UNSET, _UNSET
        if state.hasTimedOut:
            # TTL expiry (opt-in): the bucket's remembered first doc
            # ages out — a much-later near-dup will pass the gate, the
            # bounded-state trade every production dedup gate makes
            state.remove()
            return
        # ARRIVAL-order decision — the same contract as Spark's own
        # streaming dropDuplicates(WithinWatermark): the first doc to
        # ARRIVE owns the bucket; later arrivals are near-dups even if
        # their event time is smaller (an out-of-order original loses
        # to its already-admitted copy). Within one micro-batch arrivals
        # are ordered by (ts, id), so single-batch replays — the oracle,
        # and any checkpoint replay of a batch — are deterministic.
        # Verdicts therefore emit in the DATA batch itself, which is
        # what lets the downstream per-doc combine aggregation evict on
        # the very next watermark advance (a buffered, event-time-
        # finalized variant would stall: Spark's watermark simulation
        # cannot advance past a custom state op that emits nothing).
        rows = []
        for pdf in pdf_iter:
            for t_us, did in zip(_micros(pdf["ts"]), pdf["doc_id"]):
                if t_us >= wm_us:   # below-watermark arrivals: late
                    rows.append((int(t_us), int(did)))
        rows.sort()
        out = []
        for t_us, did in rows:
            out.append({"doc_id": did,
                        "ts": pd.Timestamp(t_us, unit="us"),
                        "band": band,
                        "band_first": first_ts == _UNSET})
            if first_ts == _UNSET:
                first_ts, first_id = t_us, did
        if first_ts != _UNSET:
            state.update((first_ts, first_id))
            if state_ttl_s is not None:
                # refresh on every arrival: expire only after the bucket
                # has been silent for state_ttl_s of EVENT time
                base = max(wm_us, first_ts)
                state.setTimeoutTimestamp(base // 1000 + state_ttl_s * 1000)
            # default: the keeper is remembered for the query lifetime —
            # the batch-equivalence contract (a batch dedup over the
            # same corpus sees every earlier doc, however old)
        if out:
            yield pd.DataFrame(out)

    return _fn


_CHECK_CORRECTNESS_KEY = (
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")


@contextlib.contextmanager
def stateful_check_disabled(spark):
    """Scoped disable of Spark's chained-stateful-operator correctness
    check — the conf ``near_dup_gate_stream`` needs off at query
    ANALYSIS time (i.e. through ``.start()``). The conf is session-wide
    (no per-query form), so a bare ``conf.set`` leaks: every later
    streaming query on the session silently loses the analysis-time
    safety check. This manager captures the prior value and restores it
    on exit; wrap construction + ``.start()`` — once the query is
    started, re-enabling is safe (the check never re-runs per batch)::

        with stateful_check_disabled(spark):
            q = near_dup_gate_stream(docs).writeStream...start()
    """
    try:
        prior = spark.conf.get(_CHECK_CORRECTNESS_KEY)
    except Exception:
        prior = None
    spark.conf.set(_CHECK_CORRECTNESS_KEY, "false")
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(_CHECK_CORRECTNESS_KEY)
        else:
            spark.conf.set(_CHECK_CORRECTNESS_KEY, prior)


def near_dup_gate_stream(docs: DataFrame, n_bands: int = 4, n: int = 3,
                         watermark: str = "30 minutes",
                         state_ttl_s: int | None = None,
                         id_col: str = "doc_id", ts_col: str = "ts",
                         text_col: str = "text") -> DataFrame:
    """STREAMING near-duplicate gate: minhash-LSH bucket dedup at
    ingest — the streaming twin of ``minhash_lsh_candidates`` turned
    into a keep/drop decision. A doc is KEPT iff it is the FIRST
    ARRIVAL in EVERY one of its ``n_bands`` minhash band buckets — the
    same first-arrival contract as Spark's own streaming
    ``dropDuplicatesWithinWatermark``, with arrivals inside one
    micro-batch ordered by (ts, id) so batch replays are deterministic.
    Any bucket already owned by an earlier arrival marks the doc a
    near-dup. Every doc registers its bands regardless of its own
    verdict (Bloom-gate semantics: dup-of-a-dup still drops).

    Output (append): (doc_id, ts, keep, n_bands), emitted once the
    watermark passes the doc's ts. Docs with fewer than ``n`` tokens
    have no shingles, hence no bands and NO output row — gate such docs
    separately (they cannot be near-dups under this measure).

    Dataflow: banded minhash is computed ROW-LOCALLY on the stream
    (operators/dedup.minhash_bands_col — zero shuffle), exploded to one
    row per (doc, band); per-BUCKET state (keyed on band+minhash) holds
    ONLY the bucket's first arrival — two longs; a per-doc bool_and
    over its band verdicts yields the decision. At 10^12 docs the state
    is one tiny row per distinct bucket — bounded by the opt-in
    ``state_ttl_s`` expiry, or query-lifetime by default (the
    batch-equivalence contract).

    Chained-stateful safety argument (this function disables
    ``spark.sql.streaming.statefulOperator.checkCorrectness.enabled``
    for the session): the checker blanket-rejects ANY stateful op after
    an applyInPandasWithState because it cannot bound the event times
    user code emits. THIS operator can: verdicts are emitted in the
    SAME micro-batch their doc arrives in, carrying the doc's own ts,
    which the upstream watermark node has already late-filtered — so
    every row entering the combine aggregation has ts >= that batch's
    late-event watermark and is never dropped as late. (The
    alternative — buffering verdicts until the watermark finalizes
    event-time order — deadlocks by construction: Spark's watermark
    simulation cannot advance the downstream operator past a custom
    state op, so nothing ever evicts. First-arrival semantics are what
    make the chain live, and they are the semantics streaming dedup
    ships with everywhere.) Verified end-to-end against the batch
    replay in tests and the q92 oracle."""
    import warnings

    from watermark_detector_spark.operators.dedup import minhash_bands_col

    # the chained stateful agg below requires disabling Spark's
    # stateful-operator correctness check, and that conf is SESSION-
    # wide (there is no per-query form). Preferred usage is to wrap
    # construction + .start() in ``stateful_check_disabled(spark)``
    # which restores the prior value once the query is started (the
    # check runs at query analysis, not per batch). When called bare,
    # this set leaks for the session lifetime — warn so callers know
    # other streaming queries silently lose the analysis-time check.
    if docs.sparkSession.conf.get(_CHECK_CORRECTNESS_KEY, "true") != "false":
        warnings.warn(
            "near_dup_gate_stream disables " + _CHECK_CORRECTNESS_KEY +
            " for the SESSION (safety argument in this function's "
            "docstring); wrap construction + .start() in "
            "stateful_check_disabled(spark) to scope it, or re-enable "
            "the conf after starting the query",
            stacklevel=2)
        docs.sparkSession.conf.set(_CHECK_CORRECTNESS_KEY, "false")
    # watermark declared BEFORE the shingle-count filter: event time
    # must be tracked over ALL documents, or a corpus whose newest doc
    # is shorter than n tokens would finalize at a lower watermark than
    # the batch replay (the q92 oracle cuts at max(ts) over all docs)
    bands = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(ts_col).alias("ts"),
            minhash_bands_col(F.col(text_col), n_bands=n_bands, n=n)
            .alias("_mh"))
        .withWatermark("ts", watermark)
        .where(F.size("_mh") > 0)
        .select("doc_id", "ts",
                F.posexplode("_mh").alias("band", "minhash"))
    )
    verdicts = (
        bands
        .groupBy("band", "minhash")
        .applyInPandasWithState(
            _neardup_fn_factory(state_ttl_s),
            outputStructType=NEARDUP_OUTPUT_SCHEMA,
            stateStructType=NEARDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        verdicts.withWatermark("ts", watermark)
        .groupBy("doc_id", "ts")
        .agg(F.bool_and("band_first").alias("keep"),
             F.count(F.lit(1)).alias("n_bands"))
    )
