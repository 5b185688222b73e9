"""The four workloads: staging, one timed measurement, output checks.

Each workload's ``measure(ctx, seconds)`` runs timed operations for
about ``seconds`` and returns an ``Outcome``: per-operation latencies,
rows processed over busy seconds, and how many operations were attempted
and how many produced wrong output. ``traced(ctx)`` adds the per-layer
measurements of its layers (batch prefixes, dedup chain prefixes,
query progress), run once after the timed halves of a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import stage

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                 "value double, props string")
CEP_STEPS = ["view", "view", "click"]
CEP_MAX_GAP_S = 86400
CEP_WATERMARK = "30 minutes"
STREAM_WATERMARK_S = 600
# open-loop arrival interval of the flagship stream: one 100-page file
# every 2.5 s. A file's cycle is one data micro-batch (~1 s) plus the
# no-data batch the advanced watermark triggers (~0.7 s), so each file
# finds the query idle and capacity is not reached; at 0.5 s the query
# is busy all the time and rows over busy time only echoes the offered
# rate.
STREAM_INTERVAL_S = 2.5
STREAM_WARM_UP_FILES = 3
# cep-stream closed loop: files queued ahead of the query, so one batch
# is always in flight and the next one is always ready
BACKLOG_FILES = 1
# flagship-batch: pass times still fall over the first two passes after
# set-up (JIT, worker warm-up), so two passes are checked but not timed
WARM_UP_PASSES = 2


@dataclass
class Outcome:
    lat_ms: list[float] = field(default_factory=list)
    rows: int = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # kept in the run record


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    staged: dict
    tracer: object = None
    listener: object = None
    wrong_reference: bool = False
    runs: int = 0

    def scratch(self, name: str) -> str:
        self.runs += 1
        d = os.path.join(self.work, "out", f"{name}-{self.runs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)


def _naive_utc(s: pd.Series) -> pd.Series:
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def _read_parquet_dir(path: str) -> pd.DataFrame:
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare_windows(got: pd.DataFrame, want: pd.DataFrame, approx_docs: bool) -> list[str]:
    """Window aggregates equal to the golden: counts exact, avg_score to
    1e-9, and under streaming the HLL doc count within 3 standard errors
    (approx_count_distinct's default 5% relative error)."""
    key = ["domain", "window_start"]
    g, w = got.rename(columns={"n_docs_approx": "n_docs"}), want.copy()
    for df in (g, w):
        df["window_start"] = _naive_utc(df["window_start"])
    g = g.sort_values(key).reset_index(drop=True)
    w = w.sort_values(key).reset_index(drop=True)
    errs = []
    if g.duplicated(key).any():
        errs.append(f"{int(g.duplicated(key).sum())} windows emitted more than once")
    m = w.merge(g, on=key, how="outer", suffixes=("_w", "_g"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing or extra:
        errs.append(f"{missing} golden windows missing, {extra} unexpected")
    both = m[m["_merge"] == "both"]
    for c in ("n_detections", "n_watermark", "n_text"):
        bad = int((both[f"{c}_w"].astype("int64") != both[f"{c}_g"].astype("int64")).sum())
        if bad:
            errs.append(f"{bad} windows with wrong {c}")
    bad = int((np.abs(both["avg_score_w"] - both["avg_score_g"]) > 1e-9).sum())
    if bad:
        errs.append(f"{bad} windows with wrong avg_score")
    want_docs = both["n_docs_w"].astype("int64")
    got_docs = both["n_docs_g"].astype("int64")
    tol = np.ceil(0.15 * want_docs) if approx_docs else 0
    bad = int((np.abs(got_docs - want_docs) > tol).sum())
    if bad:
        errs.append(f"{bad} windows with wrong doc count")
    return errs


def _corrupt(df: pd.DataFrame, col: str) -> pd.DataFrame:
    """A deliberately wrong reference, to show the check can fail."""
    df = df.copy()
    if len(df):
        df.loc[df.index[0], col] = df.loc[df.index[0], col] + 1
    return df


def _time_to(deadline: float) -> bool:
    return time.perf_counter() < deadline


# ---------------------------------------------------------------------------
# flagship-batch
# ---------------------------------------------------------------------------


class FlagshipBatch:
    name = "flagship-batch"
    why = ("per-document Python work (scan, Arrow transit, extract, detect) is "
           "most of the wall time; the streaming layers do nothing")

    @staticmethod
    def stage(work: str, seed: int, sizes: dict) -> dict:
        return stage.stage_batch(work, seed, **sizes)

    @staticmethod
    def build(ctx: Ctx):
        from watermark_detector_spark.plans import flagship
        from watermark_detector_spark.sources import pages

        cfg = stage.fixture_config(ctx.seed)
        return flagship.flagship_batch(
            pages.read_pages_batch(ctx.spark, ctx.staged["pages"]), cfg.signatures)

    @classmethod
    def measure(cls, ctx: Ctx, seconds: float) -> Outcome:
        from tracing import count_build_jobs

        out = Outcome()
        golden = pd.read_parquet(ctx.staged["golden"])
        if ctx.wrong_reference:
            golden = _corrupt(golden, "n_detections")
        deadline = time.perf_counter() + seconds
        warm_up = WARM_UP_PASSES
        while warm_up or _time_to(deadline) or len(out.lat_ms) < 3:
            dest = ctx.scratch("batch")
            with ctx.span("flagship-batch.pass"):
                t0 = time.perf_counter()
                df, jobs = count_build_jobs(ctx.spark, f"pb-build-{ctx.runs}",
                                            lambda: cls.build(ctx))
                df.write.mode("overwrite").parquet(dest)
                dt = time.perf_counter() - t0
            out.layers["harness.build_jobs"] = jobs
            errs = compare_windows(_read_parquet_dir(dest), golden, approx_docs=False)
            shutil.rmtree(dest, ignore_errors=True)
            out.attempted += 1
            if errs:
                out.failed += 1
                out.notes.extend(errs)
            if warm_up:  # checked, not timed
                warm_up -= 1
                if warm_up == 0:
                    deadline = time.perf_counter() + seconds
                continue
            out.lat_ms.append(dt * 1000)
            out.rows += ctx.staged["n_pages"]
            out.busy_s += dt
        return out

    @classmethod
    def traced(cls, ctx: Ctx) -> dict[str, float]:
        """Cumulative prefixes, each to a noop sink: scan -> identity
        transit -> +extract -> fused extract+detect -> +filter -> +window
        agg -> parquet write; differences are the layer times."""
        from watermark_detector_spark.plans import flagship
        from watermark_detector_spark.sources import pages as pages_mod

        import pyfns

        cfg = stage.fixture_config(ctx.seed)
        sigs = cfg.signatures

        def pages():
            return pages_mod.read_pages_batch(ctx.spark, ctx.staged["pages"])

        def noop(df):
            # best of two: a single prefix run is noisier than the
            # differences between neighbouring prefixes
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            return min(times)

        cols = ["url", "warc_ts", "lang", "html"]
        t = {}
        t["scan"] = noop(pages())
        t["transit"] = noop(pages().select(*cols).mapInPandas(
            pyfns.identity, schema="url string, warc_ts timestamp, lang string, html binary"))
        t["extract"] = noop(pages().select(*cols).mapInPandas(
            pyfns.extract_only, schema="url string, warc_ts timestamp, lang string, text string"))
        det = flagship.detection_rows_fused(pages(), sigs)
        t["detect"] = noop(det)
        kept = flagship.kept_detections_fused(pages(), sigs)
        t["filter"] = noop(kept)
        t["agg"] = noop(flagship.flagship_batch(pages(), sigs))
        dest = ctx.scratch("prefix-write")
        t0 = time.perf_counter()
        flagship.flagship_batch(pages(), sigs).write.mode("overwrite").parquet(dest)
        t["write"] = time.perf_counter() - t0
        shutil.rmtree(dest, ignore_errors=True)
        n_det = det.count()
        n_kept = kept.count()
        layers = {
            "sources.pages.scan_s": t["scan"],
            "sources.pages.bytes_read": float(ctx.staged["bytes"]),
            "sources.pages.tasks": float(pages().rdd.getNumPartitions()),
            "plans.flagship.transit_s": t["transit"] - t["scan"],
            "functions.extract.s": t["extract"] - t["transit"],
            "functions.core.detect_s": t["detect"] - t["extract"],
            "functions.core.detection_rows": float(n_det),
            "plans.flagship.keep_ratio": n_kept / n_det if n_det else 0.0,
            "plans.flagship.filter_s": t["filter"] - t["detect"],
            "plans.flagship.agg_s": t["agg"] - t["filter"],
            "plans.flagship.write_s": t["write"] - t["agg"],
        }
        layers.update(single_thread_probe(ctx.staged["pages"], sigs))
        return layers


def single_thread_probe(pages_path: str, sigs, n: int = 1000) -> dict[str, float]:
    """extract_series and detect_text on one driver thread, per document."""
    from watermark_detector_spark.functions.core import build_detector, detect_text
    from watermark_detector_spark.functions.extract import extract_series

    path = pages_path
    if os.path.isdir(path):
        path = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))[0]
    html = pd.read_parquet(path, columns=["html"])["html"].head(n)
    t0 = time.perf_counter()
    texts = extract_series(html)
    t1 = time.perf_counter()
    detector = build_detector(sigs)
    by_id = {s.sig_id: s for s in sigs}
    t2 = time.perf_counter()
    for text in texts:
        detect_text(text, by_id, detector)
    t3 = time.perf_counter()
    return {"functions.extract.us_per_doc_1t": (t1 - t0) / len(html) * 1e6,
            "functions.core.detect_us_per_doc_1t": (t3 - t2) / len(html) * 1e6}


# ---------------------------------------------------------------------------
# streaming helpers
# ---------------------------------------------------------------------------


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> id of the query micro-batch that read it. The file
    source logs each file under its own offset; the query's offset log
    maps each micro-batch to the source offset it read up to (no-data
    batches advance the batch id, not the source offset)."""
    by_offset: dict[int, list[str]] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return {}
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    by_offset.setdefault(int(e["batchId"]), []).append(
                        os.path.basename(e["path"]))
    out: dict[str, int] = {}
    prev = -1
    offsets = os.path.join(checkpoint, "offsets")
    if not os.path.isdir(offsets):
        return {}
    for b in sorted(int(f) for f in os.listdir(offsets) if f.isdigit()):
        with open(os.path.join(offsets, str(b))) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        upto = json.loads(lines[-1]).get("logOffset", prev) if lines[-1].startswith("{") else prev
        for off in range(prev + 1, upto + 1):
            for name in by_offset.get(off, []):
                out[name] = b
        prev = max(prev, upto)
    return out


def batch_watermark_ms(checkpoint: str, batch_id: int) -> int:
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as fh:
        for line in fh:
            if "batchWatermarkMs" in line:
                return int(json.loads(line)["batchWatermarkMs"])
    raise ValueError(f"no watermark in offsets/{batch_id}")


def committed_ids(checkpoint: str) -> list[int]:
    d = os.path.join(checkpoint, "commits")
    return sorted(int(f) for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else []


def progress_layers(progress: list[dict], skip_first: bool = True) -> dict[str, float]:
    """Micro-batch engine and state store figures, medians over the data
    batches (the first one, which starts the query, excluded)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if skip_first and len(data) > 1:
        data = data[1:]
    if not data:
        return {}

    def med(f):
        return float(statistics.median(f(p) for p in data))

    def dur(k):
        return med(lambda p: p.get("durationMs", {}).get(k, 0))

    def state(k):
        return med(lambda p: sum(s.get(k, 0) or 0 for s in p.get("stateOperators", [])))

    return {
        "streaming.pipeline.commits": float(len(progress)),
        "streaming.pipeline.latest_offset_ms": dur("latestOffset"),
        "streaming.pipeline.query_planning_ms": dur("queryPlanning"),
        "streaming.pipeline.add_batch_ms": dur("addBatch"),
        "streaming.pipeline.wal_commit_ms": dur("walCommit"),
        "streaming.pipeline.commit_offsets_ms": dur("commitOffsets"),
        "state_store.rows_total": state("numRowsTotal"),
        "state_store.mem_bytes": state("memoryUsedBytes"),
        "state_store.commit_ms": state("commitTimeMs"),
        "state_store.rows_dropped_late": float(sum(
            s.get("numRowsDroppedByWatermark", 0) or 0
            for p in progress for s in p.get("stateOperators", []))),
    }


def sink_layers(sink) -> dict[str, float]:
    entries = sink.manifest()
    return {"streaming.sink.rows": float(sum(e.get("n_rows", 0) for e in entries)),
            "streaming.sink.files": float(sum(e.get("n_files", 0) for e in entries))}


def wait_for(pred, timeout_s: float, poll_s: float = 0.05) -> bool:
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        if pred():
            return True
        time.sleep(poll_s)
    return pred()


# ---------------------------------------------------------------------------
# flagship-stream
# ---------------------------------------------------------------------------


class Generator(threading.Thread):
    """Open-loop source: drops file k into the watched directory at
    start + k * interval, regardless of how the query keeps up."""

    def __init__(self, files: list[str], watch: str, interval_s: float, start_epoch: float):
        super().__init__(name="open-loop-generator", daemon=True)
        self.files, self.watch, self.interval_s = files, watch, interval_s
        self.start_epoch = start_epoch
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            stage_dir = self.watch + "_incoming"
            os.makedirs(stage_dir, exist_ok=True)
            for k, src in enumerate(self.files):
                due = self.start_epoch + k * self.interval_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = os.path.basename(src)
                tmp = os.path.join(stage_dir, name)
                shutil.copyfile(src, tmp)
                os.replace(tmp, os.path.join(self.watch, name))
                self.due[name] = due
                self.late_ms.append(max(0.0, (time.time() - due) * 1000))
        except BaseException as e:  # reported by the caller after join
            self.error = e


class FlagshipStream:
    name = "flagship-stream"
    why = ("open-loop micro-batches where per-commit fixed cost (planning, "
           "Python task start, state store, sink commit) dominates and per-doc work is <1%")

    @staticmethod
    def stage(work: str, seed: int, sizes: dict) -> dict:
        return stage.stage_stream(work, seed, **sizes)

    @classmethod
    def measure(cls, ctx: Ctx, seconds: float) -> Outcome:
        from tracing import count_build_jobs
        from watermark_detector_spark.plans import flagship
        from watermark_detector_spark.sources import pages as pages_mod
        from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

        out = Outcome()
        files = ctx.staged["files"]
        n_sched = max(2, min(len(files) - STREAM_WARM_UP_FILES, round(seconds / STREAM_INTERVAL_S)))
        base = ctx.scratch("stream")
        watch, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
        os.makedirs(watch)
        sink = ExactlyOnceParquetSink(os.path.join(base, "sink"))
        cfg = stage.fixture_config(ctx.seed)
        agg, jobs = count_build_jobs(ctx.spark, f"pb-build-{ctx.runs}", lambda: flagship.flagship_stream(
            pages_mod.read_pages_stream(ctx.spark, watch, max_files_per_trigger=1000),
            cfg.signatures, watermark=f"{STREAM_WATERMARK_S} seconds"))
        out.layers["harness.build_jobs"] = jobs
        q = (agg.writeStream.outputMode("append").option("checkpointLocation", ckpt)
             .foreachBatch(sink.foreach_batch()).start())
        gen = None
        try:
            # warm-up, not timed: the first files start the query and
            # settle the per-commit cost, which falls over the first commits
            warm = Generator(files[:STREAM_WARM_UP_FILES], watch, STREAM_INTERVAL_S, time.time())
            warm.start()
            warm.join()
            warm_names = [os.path.basename(f) for f in files[:STREAM_WARM_UP_FILES]]
            if not wait_for(lambda: all(b in set(committed_ids(ckpt)) for n, b in source_log(ckpt).items()
                                        if n in warm_names) and len(source_log(ckpt)) == len(warm_names),
                            120):
                raise RuntimeError("warm-up batches never committed")
            first = STREAM_WARM_UP_FILES
            gen = Generator(files[first:first + n_sched], watch, STREAM_INTERVAL_S,
                            time.time() + STREAM_INTERVAL_S)
            gen.start()
            gen.join()
            if gen.error:
                raise gen.error
            end_sched = time.time()
            names = [os.path.basename(f) for f in files[:first + n_sched]]

            def drained():
                log = source_log(ckpt)
                done = set(committed_ids(ckpt))
                return all(n in log and log[n] in done for n in names)

            drained_ok = wait_for(drained, 60)
            q.processAllAvailable()
        finally:
            q.stop()
        wait_for(lambda: len(ctx.listener.for_query(q.id)) >= len(committed_ids(ckpt)), 5)
        log = source_log(ckpt)
        commit_at = {e["batch_id"]: e["committed_at_epoch"] for e in sink.manifest()}
        lat = [(commit_at[log[n]] - gen.due[n]) * 1000
               for n in gen.due if n in log and log[n] in commit_at]
        out.lat_ms = lat
        out.detail["files"] = [(n, gen.due[n], log.get(n), commit_at.get(log.get(n)))
                               for n in gen.due]
        progress = ctx.listener.for_query(q.id)
        out.detail["progress"] = [(p["batchId"], p["numInputRows"], p["durationMs"])
                                  for p in progress]
        timed = {log[n] for n in gen.due if n in log}
        data = [p for p in progress if p["batchId"] in timed and p.get("numInputRows", 0) > 0]
        out.rows = int(sum(p["numInputRows"] for p in data))
        out.busy_s = sum(p["durationMs"].get("triggerExecution", 0) for p in data) / 1000
        # backlog: files due by the end of the schedule but not yet committed
        backlog = sum(1 for n, due in gen.due.items()
                      if n not in log or commit_at.get(log[n], float("inf")) > end_sched)
        out.layers.update({
            "harness.gen_late_ms_max": max(gen.late_ms) if gen.late_ms else 0.0,
            "harness.backlog_files_end": float(backlog),
        })
        out.attempted = len(gen.due)
        errs = []
        if not drained_ok or len(lat) != len(gen.due):
            errs.append(f"{len(gen.due) - len(lat)} of {len(gen.due)} files never committed")
        if _backlog_grew(gen.due, log, commit_at):
            errs.append("backlog grew: offered rate above capacity")
        errs += cls.check(ctx, sink, ckpt)
        if errs:
            out.failed = out.attempted
            out.notes.extend(errs)
        out.layers.update(progress_layers(progress))
        out.layers.update(sink_layers(sink))
        shutil.rmtree(base, ignore_errors=True)
        return out

    @staticmethod
    def check(ctx: Ctx, sink, ckpt: str) -> list[str]:
        """Sink rows == golden on every window the final watermark closed;
        every batch committed exactly once."""
        done = committed_ids(ckpt)
        sink_ids = sink.committed_batches()
        errs = []
        # every batch the checkpoint committed is in the sink; the sink may
        # hold one more, committed just before the query stopped
        if set(done) - set(sink_ids) or any(b > max(done, default=-1) + 1 for b in sink_ids):
            errs.append(f"sink batches {sink_ids} != checkpoint commits {done}")
        wm = pd.Timestamp(batch_watermark_ms(ckpt, max(sink_ids)), unit="ms")
        golden = pd.read_parquet(ctx.staged["golden"])
        golden = golden[_naive_utc(golden["window_end"]) <= wm]
        if ctx.wrong_reference:
            golden = _corrupt(golden, "n_detections")
        got = sink.read(ctx.spark).toPandas()
        return errs + compare_windows(got.drop(columns=[c for c in got.columns if c == "batch_id"]),
                                      golden, approx_docs=True)


def _backlog_grew(due: dict[str, float], log: dict[str, int], commit_at: dict[int, float]) -> bool:
    """Files due but not yet committed, counted at each due time: the
    backlog grew if the last count is at least 3 and over one more than
    the first (a query that keeps up holds the new file, at most also
    the one in flight)."""
    times = sorted(due.values())
    done = [commit_at.get(log.get(n, -1), float("inf")) for n in due]
    pending = [sum(1 for t2 in times if t2 <= t) - sum(1 for c in done if c <= t) for t in times]
    return len(pending) > 1 and pending[-1] >= 3 and pending[-1] > pending[0] + 1


# ---------------------------------------------------------------------------
# cep-stream
# ---------------------------------------------------------------------------


class CepStream:
    name = "cep-stream"
    why = ("closed-loop backlog drain through the k-step CEP state machine "
           "(streaming.state) and the state store, which do most of the work here")

    @staticmethod
    def stage(work: str, seed: int, sizes: dict) -> dict:
        return stage.stage_events(work, seed, **sizes)

    @classmethod
    def measure(cls, ctx: Ctx, seconds: float) -> Outcome:
        from tracing import count_build_jobs
        from watermark_detector_spark.streaming import state
        from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

        out = Outcome()
        base = ctx.scratch("cep")
        watch, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
        os.makedirs(watch)
        files = ctx.staged["files"]
        fed = 0

        def feed(k: int) -> int:
            # keep a backlog of k files ahead of what the query has taken
            nonlocal fed
            while fed < len(files) and fed - len(source_log(ckpt)) < k:
                dst = os.path.join(watch, os.path.basename(files[fed]))
                shutil.copyfile(files[fed], dst)
                os.utime(dst, (1_700_000_000 + fed, 1_700_000_000 + fed))  # arrival order
                fed += 1
            return fed

        feed(BACKLOG_FILES)
        sink = ExactlyOnceParquetSink(os.path.join(base, "sink"))
        src = (ctx.spark.readStream.schema(EVENTS_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(watch))
        sm, jobs = count_build_jobs(ctx.spark, f"pb-build-{ctx.runs}", lambda: state.sequence_match_stream(
            src, CEP_STEPS, max_gap_s=CEP_MAX_GAP_S, watermark=CEP_WATERMARK))
        out.layers["harness.build_jobs"] = jobs
        q = (sm.writeStream.outputMode("append").option("checkpointLocation", ckpt)
             .foreachBatch(sink.foreach_batch()).start())
        try:
            # the first batch starts the query: not timed
            wait_for(lambda: len(committed_ids(ckpt)) >= 1, 120)
            deadline = time.perf_counter() + seconds
            while _time_to(deadline) and feed(BACKLOG_FILES) < len(files):
                time.sleep(0.02)
            q.processAllAvailable()
        finally:
            q.stop()
        wait_for(lambda: len(ctx.listener.for_query(q.id)) >= len(committed_ids(ckpt)), 5)
        progress = ctx.listener.for_query(q.id)
        data = [p for p in progress if p.get("numInputRows", 0) > 0][1:]
        out.lat_ms = [float(p["durationMs"].get("triggerExecution", 0)) for p in data]
        out.rows = int(sum(p["numInputRows"] for p in data))
        out.busy_s = sum(out.lat_ms) / 1000
        out.attempted = len(data) + 1
        errs = cls.check(ctx, sink, ckpt)
        if errs:
            out.failed = out.attempted
            out.notes.extend(errs)
        out.layers.update(progress_layers(progress))
        out.layers.update(sink_layers(sink))
        out.layers["streaming.state.matches_out"] = out.layers.get("streaming.sink.rows", 0.0)
        shutil.rmtree(base, ignore_errors=True)
        return out

    @staticmethod
    def check(ctx: Ctx, sink, ckpt: str) -> list[str]:
        """Sink rows == batch twin (operators.cep.sequence_match) over the
        consumed events, restricted to matches whose last event lies
        below the final watermark (q81's emission rule)."""
        from pyspark.sql import functions as F
        from watermark_detector_spark.operators.cep import sequence_match

        sink_ids = sink.committed_batches()
        if not sink_ids:
            return ["no batch committed"]
        last = max(sink_ids)
        log = source_log(ckpt)
        consumed = [os.path.join(os.path.dirname(ctx.staged["files"][0]), n)
                    for n, b in log.items() if b <= last]
        wm_ms = batch_watermark_ms(ckpt, last)
        ev = ctx.spark.read.schema(EVENTS_SCHEMA).parquet(*consumed)
        want = (sequence_match(ev, CEP_STEPS, max_gap_s=CEP_MAX_GAP_S)
                .where(F.col("t_last") < F.lit(pd.Timestamp(wm_ms, unit="ms").to_pydatetime()))
                .toPandas())
        got = sink.read(ctx.spark).toPandas()
        cols = ["user_id", "t_first", "t_last", "first_id"]
        want, got = want[cols].copy(), got[cols].copy()
        if ctx.wrong_reference:
            want = want.iloc[1:]
        for df in (want, got):
            for c in ("t_first", "t_last"):
                df[c] = _naive_utc(df[c])
        errs = []
        if got.duplicated().any():
            errs.append(f"{int(got.duplicated().sum())} matches emitted more than once")
        m = want.merge(got.drop_duplicates(), how="outer", indicator=True)
        missing = int((m["_merge"] == "left_only").sum())
        extra = int((m["_merge"] == "right_only").sum())
        if missing or extra:
            errs.append(f"{missing} matches missing, {extra} unexpected (of {len(want)})")
        if set(committed_ids(ckpt)) - set(sink_ids):
            errs.append("checkpoint commits not in the sink")
        return errs


# ---------------------------------------------------------------------------
# neardup
# ---------------------------------------------------------------------------


class NearDup:
    name = "neardup"
    why = ("JVM shuffle/join/persist near-dup chain with no Python UDF stage: "
           "the control where Python-stage changes must show no change")

    @staticmethod
    def stage(work: str, seed: int, sizes: dict) -> dict:
        return stage.stage_documents(work, seed, **sizes)

    @staticmethod
    def docs(ctx: Ctx):
        d = ctx.spark.read.parquet(ctx.staged["files"])
        return d.repartition(ctx.spark.sparkContext.defaultParallelism, "doc_id")

    @classmethod
    def measure(cls, ctx: Ctx, seconds: float) -> Outcome:
        from tracing import count_build_jobs
        from watermark_detector_spark.operators import dedup

        out = Outcome()
        want_pairs = pd.read_parquet(ctx.staged["pairs"])
        want_clusters = pd.read_parquet(ctx.staged["clusters"])
        if ctx.wrong_reference:
            want_pairs = want_pairs.iloc[1:]
            want_clusters = want_clusters.iloc[1:]
        # warm-up, untimed: the q45 pairs, checked
        got_pairs = dedup.near_dup_pairs(cls.docs(ctx), threshold=0.5).toPandas()
        out.attempted += 1
        errs = _compare_sets(got_pairs, want_pairs, ["id_a", "id_b", "jaccard"], "pairs")
        if errs:
            out.failed += 1
            out.notes.extend(errs)
        # timed: the q59 chain from DataFrame construction to the collected
        # clusters, including the jobs construction runs
        deadline = time.perf_counter() + seconds
        while _time_to(deadline) or len(out.lat_ms) < 3:
            ctx.runs += 1
            with ctx.span("neardup.run"):
                t0 = time.perf_counter()
                clusters, jobs = count_build_jobs(
                    ctx.spark, f"pb-build-{ctx.runs}",
                    lambda: dedup.dedup_clusters(dedup.near_dup_pairs(cls.docs(ctx), threshold=0.5)))
                got = clusters.toPandas()
                dt = time.perf_counter() - t0
            out.layers["harness.build_jobs"] = jobs
            errs = _compare_sets(got.rename(columns={"node": "doc_id"}), want_clusters,
                                 ["doc_id", "cluster_id"], "clusters")
            out.attempted += 1
            if errs:
                out.failed += 1
                out.notes.extend(errs)
            out.lat_ms.append(dt * 1000)
            out.rows += ctx.staged["n_docs"]
            out.busy_s += dt
        return out

    @classmethod
    def traced(cls, ctx: Ctx) -> dict[str, float]:
        """Cumulative prefixes of the chain, each counted."""
        from watermark_detector_spark.operators import dedup

        def timed(f):
            t0 = time.perf_counter()
            n = f()
            return time.perf_counter() - t0, n

        t_min, _ = timed(lambda: dedup.minhash_signatures(cls.docs(ctx)).count())
        t_lsh, n_cand = timed(lambda: dedup.minhash_lsh_candidates(cls.docs(ctx)).count())
        t_conf, n_pairs = timed(lambda: dedup.near_dup_pairs(cls.docs(ctx)).count())
        t_cl, _ = timed(lambda: dedup.dedup_clusters(dedup.near_dup_pairs(cls.docs(ctx))).count())
        return {
            "operators.dedup.minhash_s": t_min,
            "operators.dedup.lsh_s": t_lsh - t_min,
            "operators.dedup.candidates": float(n_cand),
            "operators.dedup.confirm_s": t_conf - t_lsh,
            "operators.dedup.pairs": float(n_pairs),
            "operators.dedup.precision": n_pairs / n_cand if n_cand else 0.0,
            "operators.dedup.clusters_s": t_cl - t_conf,
            "operators.dedup.edges": float(n_pairs),
        }


def _compare_sets(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    g = got[cols].copy()
    w = want[cols].copy()
    for df in (g, w):
        for c in cols:
            df[c] = df[c].round(4) if df[c].dtype.kind == "f" else df[c].astype("int64")
    m = w.merge(g, how="outer", indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing or extra or len(g) != len(w):
        return [f"{what}: {missing} missing, {extra} unexpected (of {len(w)})"]
    return []


WORKLOADS = {w.name: w for w in (FlagshipBatch, FlagshipStream, CepStream, NearDup)}
