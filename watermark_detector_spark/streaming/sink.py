"""Exactly-once idempotent sink with per-partition commit lineage.

The reference's checkpoint discipline — overwrite ``best_model.pth`` on
improvement and ``resume_or_load`` on restart (train_watermarks.py:161-163,
298) — generalizes to: every micro-batch write must be replay-safe.

Protocol (Iceberg-style snapshot log, no Iceberg jar needed):
1. foreachBatch(df, batch_id) writes data files under
   ``<root>/data/batch_id=<id>/`` with mode=overwrite — a replayed batch
   overwrites byte-identically (deterministic plan), never duplicates.
2. After the data files land, a manifest entry
   ``<root>/_manifest/<batch_id>.json`` is written ATOMICALLY
   (write temp + rename) recording batch_id, row count and files —
   the per-partition commit lineage.
3. Readers take ONLY batches listed in the manifest: a crash between
   data write and manifest write leaves an invisible orphan that the
   replay overwrites.
4. ``compact()`` (Iceberg snapshot-rewrite analog) folds committed
   per-batch manifests into one range manifest over rewritten data
   files — the small-file story at 10^12 docs: a long-running stream
   commits a few files per micro-batch, and scan cost degrades with
   file count, not byte count. Ordering makes every crash window safe:
   (a) compacted data lands (orphan until published), (b) the range
   manifest publishes atomically — from here readers PREFER the range
   and ignore covered per-batch entries — then (c) covered per-batch
   manifests and data dirs are vacuumed after a RETENTION WINDOW
   (default 300 s, Iceberg-orphan-file style) protecting readers that
   resolved their file listing just before the publish; within the
   sweep, data is deleted before its manifest so a crash mid-vacuum
   leaves a shadowed manifest the next vacuum revisits, never an
   unreachable data dir.

ALL manifest/listing IO goes through the Hadoop FileSystem API resolved
from the root URI (``_HadoopFS``), so the same protocol runs unchanged
against file://, hdfs:// or s3a:// roots — whatever connector is on the
classpath. On object stores without atomic rename the rename step is
the one to swap for a conditional PUT; the protocol is otherwise
rename-free. A pure-``os`` fallback shim covers manifest reads after
the SparkSession is gone (local roots only).
"""

from __future__ import annotations

import json
import os
import time
import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _write_parquet(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the rows
    written, counted by the write job itself, so no footer is opened
    afterwards. The count is read only once the write has returned: a
    failed write raises first, instead of leaving ``Observation.get``
    waiting on metrics that never arrive."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(path))
    return obs.get["n"]


class _HadoopFS:
    """Minimal FS shim over ``org.apache.hadoop.fs.FileSystem`` (py4j):
    scheme-aware (file/hdfs/s3a/...), no driver-local ``os.*`` calls."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._Path(p))

    def listdir(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(self._Path(p))]

    def write_atomic(self, p: str, text: str) -> None:
        tmp = self._Path(p + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # rename does not overwrite an existing destination; the caller
        # guarantees absence (committed batches short-circuit earlier).
        # Hadoop reports rename failure via a FALSE return, not an
        # exception — swallowing it would advance the streaming
        # checkpoint past a batch that has NO manifest entry, silently
        # losing its rows from every future read. Raise so the batch
        # is retried/replayed instead.
        if not self._fs.rename(tmp, self._Path(p)):
            raise IOError(f"manifest publish failed: rename {p}.tmp -> {p}")

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._Path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def delete(self, p: str, recursive: bool = False) -> None:
        self._fs.delete(self._Path(p), recursive)

    def mtime(self, p: str) -> float:
        """Modification time (epoch seconds) — retention-window clock."""
        return self._fs.getFileStatus(self._Path(p)).getModificationTime() / 1000.0


class _LocalFS:
    """os-based fallback for manifest READS when no SparkSession is
    active (e.g. inspecting a local sink after shutdown)."""

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p) if os.path.isdir(p) else []

    def write_atomic(self, p: str, text: str) -> None:
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, p)

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def delete(self, p: str, recursive: bool = False) -> None:
        import shutil

        if os.path.isdir(p):
            if recursive:
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.rmdir(p)
        elif os.path.exists(p):
            os.remove(p)

    def mtime(self, p: str) -> float:
        return os.path.getmtime(p)


class ExactlyOnceParquetSink:
    def __init__(self, root: str, output_partitions: int | None = 8,
                 vacuum_retention_s: float = 300.0):
        # window-agg output per batch is small relative to input; coalesce
        # to a few files so the per-batch commit cost stays flat
        self.output_partitions = output_partitions
        self.vacuum_retention_s = vacuum_retention_s
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifest")
        self._fs_cache = None
        self._ranges_cache: list[dict] | None = None

    @property
    def fs(self):
        if self._fs_cache is None:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                self._fs_cache = _HadoopFS(spark, self.root)
            elif "://" not in self.root:
                return _LocalFS()  # uncached: prefer Hadoop once a session exists
            else:
                raise RuntimeError(
                    f"no active SparkSession to resolve filesystem for {self.root}"
                )
        return self._fs_cache

    # -- manifest listing (ranges first: compaction shadowing) -------------
    @staticmethod
    def _parse_range_stem(stem: str) -> dict | None:
        """``compact_<lo>-<hi>`` / ``merge_<lo>-<hi>`` -> range record
        (kind, lo, hi, dir). None for foreign/malformed stems."""
        for kind in ("compact", "merge"):
            prefix = kind + "_"
            if stem.startswith(prefix):
                lo, _, hi = stem[len(prefix):].partition("-")
                if lo.isdigit() and hi.isdigit():
                    return {"lo": int(lo), "hi": int(hi), "kind": kind,
                            "dir": stem}
                return None
        return None

    @staticmethod
    def _shadowed_by_merge(r: dict, merges: list[dict]) -> bool:
        """True when ``r``'s span lies inside a DIFFERENT ``merge_``
        range. Merge spans always run from the first to the last
        committed id, so overlaps are strict containments, never
        partial — the single containment rule every read/vacuum path
        shares."""
        return any(m is not r and m["lo"] <= r["lo"] and r["hi"] <= m["hi"]
                   for m in merges)

    def _list_manifests(self) -> tuple[list[dict], list[int]]:
        """ONE manifest-dir LIST → (all published range records, all
        per-batch ids). Every caller goes through here so one logical
        read costs one LIST RPC (object stores bill and throttle these).
        Foreign .json files (editor artifacts, future metadata) are
        skipped — not ours to parse."""
        ranges, singles = [], []
        for f in self.fs.listdir(self.manifest_dir):
            if not f.endswith(".json"):
                continue
            stem = f[:-5]
            r = self._parse_range_stem(stem)
            if r is not None:
                r["file"] = f
                ranges.append(r)
            elif stem.isdigit():
                singles.append(int(stem))
        return sorted(ranges, key=lambda r: (r["lo"], r["hi"])), singles

    def _manifest_full(self) -> tuple[list[dict], list[int], list[dict]]:
        """(live ranges, uncovered per-batch ids, shadowed ranges). A
        batch id inside any published range is SHADOWED: its per-batch
        manifest (which vacuuming may not have swept yet) is ignored. A
        RANGE whose span lies inside a ``merge_`` range is likewise
        shadowed: merge-compaction (UpsertSink.compact_merge) rewrites
        that span's history into one resolved snapshot, and the older
        range — plain compact or earlier merge — stays published on
        disk only until vacuum's retention expires it. Until then it
        remains usable as a FALLBACK for time-travel / incremental
        reads through the merged span (third tuple element)."""
        raw, singles = self._list_manifests()
        merges = [r for r in raw if r["kind"] == "merge"]
        live = [r for r in raw if not self._shadowed_by_merge(r, merges)]
        shadowed = [r for r in raw if self._shadowed_by_merge(r, merges)]
        covered = set()
        for r in live:
            covered.update(range(r["lo"], r["hi"] + 1))
        return live, sorted(b for b in singles if b not in covered), shadowed

    def _manifest_state(self) -> tuple[list[dict], list[int]]:
        """(live range entries, uncovered per-batch ids) — see
        :meth:`_manifest_full`."""
        live, singles, _ = self._manifest_full()
        return live, singles

    def _fallback_span_paths(self, lo: int, hi: int, shadowed: list[dict],
                             allow_merge: bool, expired_msg) -> list[str]:
        """Per-batch data dirs for ids ``lo..hi``, substituting a
        shadowed-but-still-published range wherever the raw delta dirs
        are already vacuumed and the range's whole span fits inside
        ``[lo, hi]`` — publishing a merge must not EXPIRE reads that an
        older on-disk range can still serve exactly. ``allow_merge``: a
        shadowed merge snapshot holds RESOLVED rows, not the raw
        deltas, so it is a valid last-resort substitute only for reads
        that resolve afterwards (UpsertSink.read_current) — never for
        raw snapshot reads (row multiset would silently change) and
        never for CHANGE reads (a merge resolves away the per-row
        change history). ``expired_msg(b)`` renders the error once
        nothing can serve batch ``b``."""
        fs = self.fs

        def _existing(cands):
            # widest span first (fewest dirs in the final listing)
            for r in sorted(cands, key=lambda r: -r["hi"]):
                if fs.exists(os.path.join(self.data_dir, r["dir"])):
                    return r
            return None

        paths = []
        b = lo
        while b <= hi:
            fits = [r for r in shadowed if r["lo"] == b and r["hi"] <= hi]
            # a shadowed compact holds the EXACT raw deltas of its span
            # — prefer it even over surviving per-batch dirs, so a
            # partially-swept state (one raw dir left, the rest gone)
            # can't strand an exact-fit range behind the survivor
            sub = _existing([r for r in fits if r["kind"] == "compact"])
            if sub is None:
                p = os.path.join(self.data_dir, f"batch_id={b}")
                if fs.exists(p):
                    paths.append(p)
                    b += 1
                    continue
                if allow_merge:
                    sub = _existing(
                        [r for r in fits if r["kind"] == "merge"])
            if sub is None:
                raise ValueError(expired_msg(b))
            paths.append(os.path.join(self.data_dir, sub["dir"]))
            b = sub["hi"] + 1
        return paths

    def _is_covered(self, batch_id: int) -> bool:
        """Covered-by-range check against a CACHED range list (refreshed
        only when this instance compacts, or on first use): ranges change
        rarely and only grow, and staleness is harmless by construction —
        a stale miss merely re-writes a shadowed per-batch entry, which
        readers ignore and the next vacuum sweeps. The cache keeps the
        per-commit hot path O(1) instead of a manifest-dir listing per
        micro-batch (an S3 LIST storm on object stores)."""
        if self._ranges_cache is None:
            self._ranges_cache = self._manifest_state()[0]
        return any(r["lo"] <= batch_id <= r["hi"] for r in self._ranges_cache)

    # -- write side (foreachBatch) ----------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        fs = self.fs
        manifest_path = os.path.join(self.manifest_dir, f"{batch_id}.json")
        if fs.exists(manifest_path) or self._is_covered(batch_id):
            # replayed batch already committed (directly or via a
            # compacted range) — exactly-once no-op
            return
        fs.mkdirs(self.data_dir)
        fs.mkdirs(self.manifest_dir)
        path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        if self.output_partitions:
            df = df.coalesce(self.output_partitions)
        n_rows = _write_parquet(df, path)
        files = sorted(f for f in fs.listdir(path) if f.endswith(".parquet"))
        entry = {
            "batch_id": batch_id,
            "n_rows": n_rows,
            "n_files": len(files),
            "files": files,
            "committed_at_epoch": time.time(),
        }
        fs.write_atomic(manifest_path, json.dumps(entry))  # atomic publish

    def foreach_batch(self):
        return lambda df, batch_id: self.write_batch(df, batch_id)

    # -- read side ---------------------------------------------------------
    def committed_batches(self) -> list[int]:
        """All committed batch ids — directly manifested or covered by a
        compacted range (the exactly-once ledger survives compaction)."""
        ranges, singles = self._manifest_state()
        ids = set(singles)
        for r in ranges:
            ids.update(range(r["lo"], r["hi"] + 1))
        return sorted(ids)

    def manifest(self) -> list[dict]:
        fs = self.fs
        ranges, singles = self._manifest_state()
        entries = [
            json.loads(fs.read_text(os.path.join(self.manifest_dir, r["file"])))
            for r in ranges
        ] + [
            json.loads(fs.read_text(os.path.join(self.manifest_dir, f"{b}.json")))
            for b in singles
        ]
        return sorted(entries, key=lambda e: e.get("batch_id", e.get("lo")))

    def _data_paths(self) -> list[str]:
        ranges, singles = self._manifest_state()
        return [
            os.path.join(self.data_dir, r["dir"]) for r in ranges
        ] + [os.path.join(self.data_dir, f"batch_id={b}") for b in singles]

    def _batch_commit_times(self) -> dict[int, float]:
        """batch_id -> commit epoch, surviving compaction: per-batch
        manifests (INCLUDING range-shadowed ones not yet vacuumed) are
        the primary source; range manifests carry the folded batches'
        original times in ``batch_commits``. A legacy range without
        that field maps only its hi batch, to the COMPACTION time — a
        conservative late bound (never resolves a timestamp to a batch
        that had not committed yet)."""
        fs = self.fs
        out: dict[int, float] = {}
        ranges, singles = self._list_manifests()
        range_files = [r["file"] for r in ranges]
        for b in singles:
            f = f"{b}.json"
            try:
                m = json.loads(fs.read_text(
                    os.path.join(self.manifest_dir, f)))
                out[b] = m["committed_at_epoch"]
            except Exception as e:
                # a truncated/unreadable per-batch manifest would
                # otherwise SILENTLY shift as_of_timestamp reads to
                # an older batch — surface the skip
                warnings.warn(
                    f"skipping unreadable manifest {f} while "
                    f"building the commit-time ledger: {e!r} — "
                    f"as_of_timestamp resolution may be stale for "
                    f"timestamps at or after this batch's commit",
                    stacklevel=2)
        for f in range_files:
            try:
                m = json.loads(fs.read_text(
                    os.path.join(self.manifest_dir, f)))
            except Exception as e:
                warnings.warn(
                    f"skipping unreadable range manifest {f} while "
                    f"building the commit-time ledger: {e!r}",
                    stacklevel=2)
                continue
            bc = m.get("batch_commits") or {}
            for b, t in bc.items():
                out.setdefault(int(b), t)
            if not bc and "hi" in m:
                out.setdefault(int(m["hi"]), m["committed_at_epoch"])
        return out

    def read(self, spark: SparkSession,
             as_of_batch: int | None = None,
             as_of_timestamp: float | None = None,
             merge_schema: bool = False,
             _allow_merge_fallback: bool = False) -> DataFrame:
        """Read the committed snapshot. With ``as_of_batch`` TIME-TRAVEL
        to the table as of that batch id (Iceberg snapshot-read analog;
        the manifest ledger IS the snapshot history): only batches with
        id <= as_of_batch are read. A compacted range lying fully at or
        below the cut reads from its compact dir; a range STRADDLING the
        cut falls back to the shadowed per-batch dirs, which exist until
        vacuum's retention expires them — past that the snapshot is
        expired (exactly Iceberg's expire_snapshots contract) and the
        read raises rather than returning partial data.

        ``as_of_timestamp`` (epoch seconds float, or a datetime) is the
        interface users actually hold (Iceberg's as-of-timestamp read):
        it resolves to the LAST batch whose commit time is <= the given
        instant — commit times come from the manifest ledger and
        survive compaction via the range manifests' ``batch_commits`` —
        then follows the as_of_batch path (including its EXPIRED
        semantics).

        ``merge_schema=True`` is the SCHEMA-EVOLUTION read (Iceberg's
        additive evolution): batches written with a widened schema
        (new columns) union with older batches, which surface NULL for
        the added columns. Off by default — the merged-footer scan
        reads every file's footer up front, a cost only evolved tables
        should pay.

        ``_allow_merge_fallback`` (internal, set by
        ``UpsertSink.read_current``): lets a time-travel read through a
        vacuumed span substitute a shadowed merge SNAPSHOT — resolved
        rows, not raw deltas — which is only sound for callers that
        resolve the result afterwards. Raw ``read()`` keeps its
        raw-row-multiset contract and raises EXPIRED instead."""
        if as_of_timestamp is not None:
            if as_of_batch is not None:
                raise ValueError(
                    "pass as_of_batch OR as_of_timestamp, not both")
            ts = (as_of_timestamp.timestamp()
                  if hasattr(as_of_timestamp, "timestamp")
                  else float(as_of_timestamp))
            times = self._batch_commit_times()
            eligible = [b for b, t in times.items() if t <= ts]
            if not eligible:
                raise ValueError(
                    f"no snapshot committed at or before epoch {ts} "
                    f"under {self.root} (earliest known commit: "
                    f"{min(times.values()) if times else 'none'})")
            as_of_batch = max(eligible)
        if as_of_batch is None:
            paths = self._data_paths()
            if not paths:
                raise ValueError(f"no committed batches under {self.root}")
            return self._read_paths(spark, paths, merge_schema)
        ranges, singles, shadowed = self._manifest_full()
        paths = []
        for r in ranges:
            if r["hi"] <= as_of_batch:
                paths.append(os.path.join(self.data_dir, r["dir"]))
            elif r["lo"] <= as_of_batch:
                paths += self._fallback_span_paths(
                    r["lo"], as_of_batch, shadowed,
                    allow_merge=_allow_merge_fallback,
                    expired_msg=lambda b, r=r: (
                        f"snapshot as_of_batch={as_of_batch} is EXPIRED: "
                        f"batch {b} was folded into {r['dir']} and its "
                        "per-batch files were vacuumed"))
        paths += [os.path.join(self.data_dir, f"batch_id={b}")
                  for b in singles if b <= as_of_batch]
        if not paths:
            raise ValueError(
                f"no committed batches at or before {as_of_batch} "
                f"under {self.root}")
        return self._read_paths(spark, paths, merge_schema)

    @staticmethod
    def _read_paths(spark: SparkSession, paths: list[str],
                    merge_schema: bool) -> DataFrame:
        r = spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(*paths)

    def read_changes(self, spark: SparkSession, since_batch: int,
                     as_of_batch: int | None = None,
                     merge_schema: bool = False) -> DataFrame:
        """INCREMENTAL read (Iceberg incremental append-scan analog):
        exactly the rows appended by committed batches with
        ``since_batch < id <= as_of_batch`` (default: the latest
        committed id). This is the CDC consumer pattern — a downstream
        job remembers the last batch id it processed and reads only the
        delta, never rescanning the table; because the sink is
        append-only with an idempotent ledger, appends ARE the complete
        change set and each row is delivered exactly once across
        successive non-overlapping calls.

        A compacted range lying entirely inside the window reads from
        its compact dir (same bytes, fewer files); a range STRADDLING
        either boundary falls back to the shadowed per-batch dirs, and
        past vacuum's retention that delta is EXPIRED and the read
        raises rather than silently widening or narrowing the window —
        exactly Iceberg's expired-snapshot contract for incremental
        scans."""
        committed = self.committed_batches()
        if not committed:
            raise ValueError(f"no committed batches under {self.root}")
        hi = max(committed) if as_of_batch is None else as_of_batch
        if since_batch >= hi:
            raise ValueError(
                f"empty change window: since_batch={since_batch} >= "
                f"as_of_batch={hi}")
        return self._read_paths(
            spark, self.change_paths(since_batch, hi), merge_schema)

    def change_paths(self, since_batch: int, hi: int) -> list[str]:
        """Data directories holding exactly the rows appended by batches
        in ``(since_batch, hi]`` — the path-resolution core shared by
        :meth:`read_changes` and the streaming source
        (sources/sink_stream.py), so both present the identical EXPIRED
        contract when compaction+vacuum has swept a straddled window."""
        ranges, singles, shadowed = self._manifest_full()
        paths = []
        for r in ranges:
            if r["hi"] <= since_batch or r["lo"] > hi:
                continue
            if (r["kind"] == "compact" and r["lo"] > since_batch
                    and r["hi"] <= hi):
                paths.append(os.path.join(self.data_dir, r["dir"]))
                continue
            # a merge_ range holds the RESOLVED upsert state, not the
            # window's appended deltas — an incremental read through a
            # merged span must come from the raw per-batch dirs (or a
            # shadowed compact range that fits the window), and is
            # EXPIRED once vacuum sweeps those (merge rewrites history)
            def _msg(b, r=r):
                reason = ("which straddles the window boundary"
                          if r["kind"] == "compact" else
                          "whose merged snapshot resolved away the "
                          "per-row change history")
                return (f"incremental window ({since_batch}, {hi}] is "
                        f"EXPIRED: batch {b} was folded into "
                        f"{r['dir']} {reason}, and its per-batch files "
                        "were vacuumed")

            paths += self._fallback_span_paths(
                max(r["lo"], since_batch + 1), min(r["hi"], hi),
                shadowed, allow_merge=False, expired_msg=_msg)
        paths += [os.path.join(self.data_dir, f"batch_id={b}")
                  for b in singles if since_batch < b <= hi]
        if not paths:
            raise ValueError(
                f"no committed batches in ({since_batch}, {hi}] "
                f"under {self.root}")
        return paths

    # -- maintenance: small-file compaction (snapshot rewrite) -------------
    def compact(self, spark: SparkSession, output_partitions: int | None = None,
                vacuum: bool = True,
                sort_cols: list[str] | None = None,
                zorder_cols: list[str] | None = None) -> list[dict]:
        """Fold every currently-uncovered CONTIGUOUS run of per-batch
        commits (>= 2 batches) into a range manifest over rewritten data
        files — one manifest per run, so gaps in the id sequence (a
        range must never assert an uncommitted id) don't freeze the runs
        behind them. Crash-safe by ordering (see module docstring):
        data → atomic range-manifest publish → vacuum (retention-gated
        GC). Returns the published range entries ([] if nothing to
        fold).

        At 10^12-doc scale this runs as a periodic maintenance job next
        to the stream (exactly how Iceberg's rewrite_data_files compacts
        a streaming table); readers never block and never double-read —
        the retention window in vacuum() is what keeps in-flight readers
        safe (see there)."""
        if sort_cols and zorder_cols:
            raise ValueError(
                "sort_cols and zorder_cols are mutually exclusive layouts")
        fs = self.fs
        _, singles = self._manifest_state()
        runs: list[list[int]] = []
        for b in singles:
            if runs and b == runs[-1][-1] + 1:
                runs[-1].append(b)
            else:
                runs.append([b])
        entries = []
        for run in runs:
            if len(run) < 2:
                continue
            lo, hi = run[0], run[-1]
            # rewrite the run's rows into one compacted dir
            src = [os.path.join(self.data_dir, f"batch_id={b}") for b in run]
            out = os.path.join(self.data_dir, f"compact_{lo}-{hi}")
            df = spark.read.parquet(*src)
            n_out = output_partitions or self.output_partitions or 8
            if sort_cols:
                # sort-clustered rewrite (Iceberg rewrite_data_files with
                # a sort strategy): range-partition on the cluster keys,
                # sort within each file, so every output file owns a
                # DISJOINT key range and parquet footer min/max stats
                # prune whole files for key-predicated reads — the data
                # layout that makes a 100 TB table scannable by key
                df = (df.repartitionByRange(n_out, *sort_cols)
                      .sortWithinPartitions(*sort_cols))
            elif zorder_cols:
                # Z-ORDER rewrite (Delta OPTIMIZE ZORDER BY analog):
                # Morton-curve clustering keeps per-file min/max tight
                # on EVERY listed column at once, so multi-dimensional
                # filters prune files on each axis — see operators/
                # layout.py for the curve construction
                from watermark_detector_spark.operators.layout import (
                    zorder_repartition)
                df = zorder_repartition(df, zorder_cols, n_out)
            else:
                df = df.coalesce(n_out)
            n_rows = _write_parquet(df, out)
            files = sorted(f for f in fs.listdir(out) if f.endswith(".parquet"))
            # carry the folded batches' ORIGINAL commit times into the
            # range manifest: timestamp time-travel must keep resolving
            # ts -> batch after vacuum sweeps the per-batch manifests
            batch_commits = {}
            for b in run:
                try:
                    m = json.loads(fs.read_text(
                        os.path.join(self.manifest_dir, f"{b}.json")))
                    batch_commits[str(b)] = m["committed_at_epoch"]
                except Exception:
                    pass  # already vacuumed/legacy: hi falls back below
            entry = {
                "lo": lo, "hi": hi, "batch_ids": run, "n_rows": n_rows,
                "n_files": len(files), "files": files,
                "committed_at_epoch": time.time(),
                "batch_commits": batch_commits,
            }
            # atomic publish: from this instant readers take the range and
            # ignore the (still-present) covered per-batch manifests
            fs.write_atomic(
                os.path.join(self.manifest_dir, f"compact_{lo}-{hi}.json"),
                json.dumps(entry),
            )
            entries.append(entry)
        self._ranges_cache = None  # ranges changed — refresh on next commit
        if vacuum and entries:
            self.vacuum()
        return entries

    def vacuum(self, retention_s: float | None = None) -> int:
        """GC (a) per-batch manifests + data dirs shadowed by a published
        range and (b) orphaned compact_* data dirs no manifest references
        (a compact() that died before publishing, then re-folded a wider
        run on retry). Everything swept is already invisible to the
        manifest-driven read path.

        ``retention_s`` (default: the sink's ``vacuum_retention_s``,
        300 s) is the concurrent-reader grace window — the same idea as
        Iceberg's orphan-file retention: a reader that resolved its file
        listing JUST BEFORE a range published may still be scanning the
        covered per-batch dirs, and a compactor may be about to publish
        the manifest for a just-written compact_* dir; both are safe as
        long as the sweep only touches entries older than any plausible
        in-flight operation. Pass 0 for immediate sweep (tests,
        decommission). Crash-safety: data dir is deleted BEFORE its
        manifest, so a crash mid-sweep leaves a shadowed manifest that
        the next vacuum revisits — never an unreachable data dir."""
        fs = self.fs
        if retention_s is None:
            retention_s = self.vacuum_retention_s
        now = time.time()
        raw, singles = self._list_manifests()
        merges = [r for r in raw if r["kind"] == "merge"]
        covered_old = set()
        for r in raw:
            if self._shadowed_by_merge(r, merges):
                continue
            if now - fs.mtime(os.path.join(self.manifest_dir, r["file"])) >= retention_s:
                covered_old.update(range(r["lo"], r["hi"] + 1))
        swept = 0
        # (a0) ranges shadowed by a wider merge range (compact_merge
        # rewrote their span's history): sweepable once the SHADOWING
        # manifest is past retention — until then the shadowed range
        # both serves fallback reads (_fallback_span_paths) and may
        # still be scanned by a reader that resolved its file listing
        # just before the merge published. Data before manifest, as
        # everywhere.
        old_merges = [
            m for m in merges
            if now - fs.mtime(os.path.join(self.manifest_dir, m["file"]))
            >= retention_s
        ]
        swept_dirs = set()
        for r in raw:
            if (self._shadowed_by_merge(r, merges)
                    and self._shadowed_by_merge(r, old_merges)):
                fs.delete(os.path.join(self.data_dir, r["dir"]),
                          recursive=True)
                fs.delete(os.path.join(self.manifest_dir, r["file"]))
                swept_dirs.add(r["dir"])
                swept += 1
        # manifests (not just data dirs) that remain published: their
        # data dirs must survive the orphan sweep below even when
        # shadowed-but-unexpired — in-flight readers may hold their paths
        live_dirs = {r["dir"] for r in raw} - swept_dirs
        for b in singles:
            if b in covered_old:
                # data FIRST, then manifest: the manifest is the
                # re-visit marker for a crash between the two deletes
                fs.delete(os.path.join(self.data_dir, f"batch_id={b}"),
                          recursive=True)
                fs.delete(os.path.join(self.manifest_dir, f"{b}.json"))
                swept += 1
        for d in fs.listdir(self.data_dir):
            if (d.startswith(("compact_", "merge_")) and d not in live_dirs
                    and now - self._newest_mtime(os.path.join(self.data_dir, d))
                    >= retention_s):
                fs.delete(os.path.join(self.data_dir, d), recursive=True)
                swept += 1
        return swept

    def _newest_mtime(self, d: str) -> float:
        """Newest FILE mtime under *d*. Object stores (s3a) report
        synthetic-directory mtime as 0, which would make a
        directory-status retention gate pass immediately and let vacuum
        delete a concurrent compactor's written-but-not-yet-published
        compact_* dir; the newest contained file reflects actual write
        recency on every Hadoop FS scheme. An EMPTY directory uses its
        own mtime when the filesystem reports a real one (> 0: file://,
        hdfs — so an ABANDONED empty dir from a crashed compactor still
        ages out instead of leaking forever) and is treated as
        brand-new (now) only when the mtime is the synthetic 0 of an
        object store, where a concurrent compactor may have just
        created it."""
        fs = self.fs
        times = [fs.mtime(os.path.join(d, f)) for f in fs.listdir(d)]
        if times:
            return max(times)
        own = fs.mtime(d)
        return own if own > 0 else time.time()


class UpsertSink(ExactlyOnceParquetSink):
    """Keyed UPSERT table over the exactly-once ledger — the
    Delta/Iceberg ``MERGE INTO`` analog, laid out like Hudi/Paimon
    merge-on-read:

    * ``write_batch`` stays APPEND-ONLY: every micro-batch lands as an
      immutable delta whose rows are stamped with the committing batch
      id (``_commit_batch``). No read-modify-write per commit — at
      10^12-doc scale an eager per-batch rewrite is a full-table
      shuffle per micro-batch; deltas keep the write path O(batch) and
      inherit the ledger's replay idempotence unchanged.
    * ``read_current`` resolves LAST-WRITER-WINS per key at scan time:
      one hash aggregate on the key columns (``max_by`` over
      ``(_commit_batch, order_col)``), then drops keys whose winning
      row is a TOMBSTONE (``tombstone_col`` true). Replayed batches
      were deduped at commit time, so the aggregate sees each committed
      row exactly once.
    * ``compact_merge`` is the copy-on-write fold (Hudi compaction /
      Delta OPTIMIZE analog): it materializes the resolved state into
      one ``merge_<lo>-<hi>`` snapshot range. While the table stays
      fully merged, ``read_current`` is a plain parquet scan — ZERO
      shuffle — until the next delta lands. A later re-merge publishes
      a WIDER range; the contained older range (plain compact or
      earlier merge) is shadowed by containment in
      ``_manifest_state`` and swept by ``vacuum`` after retention.

    Contracts inherited and refined:
    - time travel: ``read_current(as_of_batch=k)`` straddling a merge
      range falls back to the raw per-batch deltas and resolves them;
      once vacuum sweeps those, the historical snapshot is EXPIRED
      (raises) — never silently resolved from rewritten state.
    - incremental reads (``read_changes``) through a merged span are
      likewise EXPIRED after vacuum: the merge resolved away the
      per-row change history, so the sink refuses to fake a changelog.
    - within one batch, two rows for the same key are resolved by
      ``order_col``; supply it whenever a single micro-batch can carry
      more than one version of a key, otherwise the winner among
      full-tie rows is plan-order-dependent.

    Reference parity: the reference's checkpoint discipline overwrites
    ``best_model.pth`` keyed by run on improvement
    (train_watermarks.py:161-163) — keeper-by-key, last-writer-wins;
    this class is that discipline generalized into a table format.
    """

    LINEAGE_COL = "_commit_batch"

    def __init__(self, root: str, key_cols, order_col: str | None = None,
                 tombstone_col: str | None = None, **kwargs):
        super().__init__(root, **kwargs)
        if isinstance(key_cols, str):
            key_cols = [key_cols]
        if not key_cols:
            raise ValueError("key_cols must name at least one column")
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.tombstone_col = tombstone_col

    # -- write side ---------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        if self.LINEAGE_COL in df.columns:
            raise ValueError(
                f"{self.LINEAGE_COL} is the sink's lineage column — "
                "rename the input column")
        missing = [c for c in self.key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"batch is missing key column(s) {missing}")
        super().write_batch(
            df.withColumn(self.LINEAGE_COL, F.lit(int(batch_id))), batch_id)

    # -- merge-on-read resolution --------------------------------------------
    def _resolved(self, df: DataFrame) -> DataFrame:
        order = [F.col(self.LINEAGE_COL)]
        if self.order_col:
            order.append(F.col(self.order_col))
        payload = F.struct(*[F.col(c) for c in df.columns])
        return (
            df.groupBy(*[F.col(c) for c in self.key_cols])
            .agg(F.max_by(payload, F.struct(*order)).alias("_r"))
            .select("_r.*")
        )

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        if self.tombstone_col and self.tombstone_col in df.columns:
            # NULL tombstone flag (e.g. pre-evolution batches) = live row
            df = df.where(
                ~F.coalesce(F.col(self.tombstone_col), F.lit(False)))
        return df

    def _fully_merged(self) -> bool:
        ranges, singles = self._manifest_state()
        return (not singles and len(ranges) == 1
                and ranges[0]["kind"] == "merge")

    def read_current(self, spark: SparkSession,
                     as_of_batch: int | None = None,
                     as_of_timestamp: float | None = None) -> DataFrame:
        """The table's CURRENT state (or its state as of a past batch /
        commit timestamp): one row per key, last writer wins, tombstoned
        keys absent. While the ledger is exactly one merge range this is
        a plain scan of the materialized snapshot (no aggregate, no
        shuffle); otherwise it is merge-on-read — one key-partitioned
        hash aggregate over base + deltas."""
        df = self.read(spark, as_of_batch=as_of_batch,
                       as_of_timestamp=as_of_timestamp,
                       _allow_merge_fallback=True)
        if not (as_of_batch is None and as_of_timestamp is None
                and self._fully_merged()):
            df = self._resolved(df)
        df = self._drop_tombstones(df)
        return df.drop(self.LINEAGE_COL)

    # -- maintenance: copy-on-write fold --------------------------------------
    def compact_merge(self, spark: SparkSession,
                      output_partitions: int | None = None,
                      vacuum: bool = True) -> dict | None:
        """Materialize the resolved state into one ``merge_<lo>-<hi>``
        snapshot covering every committed batch. Crash-safe by the
        standard ordering: data lands (orphan until published), the
        range manifest publishes atomically, then covered manifests are
        vacuumed after retention. Rows keep their ORIGINAL
        ``_commit_batch`` lineage, so later deltas (always > hi) still
        win last-writer-wins against merged rows. Tombstoned keys are
        dropped at merge time; a later delta may freely re-insert them.
        Returns the published range entry, or None when the table is
        already fully merged (no-op)."""
        fs = self.fs
        committed = set(self.committed_batches())
        if not committed:
            raise ValueError(f"nothing to merge under {self.root}")
        if self._fully_merged():
            return None
        lo, hi = min(committed), max(committed)
        if committed != set(range(lo, hi + 1)):
            # a range manifest asserts every id in its span is committed
            missing = sorted(set(range(lo, hi + 1)) - committed)
            raise ValueError(
                f"merge compaction needs a contiguous ledger; batch(es) "
                f"{missing} have not committed yet")
        cur = self._drop_tombstones(self._resolved(self.read(spark)))
        out = os.path.join(self.data_dir, f"merge_{lo}-{hi}")
        n_out = output_partitions or self.output_partitions or 8
        n_rows = _write_parquet(cur.coalesce(n_out), out)
        files = sorted(f for f in fs.listdir(out) if f.endswith(".parquet"))
        times = self._batch_commit_times()
        entry = {
            "lo": lo, "hi": hi, "batch_ids": list(range(lo, hi + 1)),
            "n_rows": n_rows, "n_files": len(files), "files": files,
            "committed_at_epoch": time.time(), "merged": True,
            "batch_commits": {str(b): times[b]
                              for b in range(lo, hi + 1) if b in times},
        }
        fs.write_atomic(
            os.path.join(self.manifest_dir, f"merge_{lo}-{hi}.json"),
            json.dumps(entry))
        self._ranges_cache = None  # ranges changed — refresh on next commit
        if vacuum:
            self.vacuum()
        return entry
