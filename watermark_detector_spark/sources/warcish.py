"""WARC-style page container as a custom Python DataSource (Spark 4
DataSource API): `spark.read.format("warcish")` /
`df.write.format("warcish")` over a directory of record-framed binary
files — the Common-Crawl-shaped ingestion path when pages arrive as
archive containers rather than parquet.

Container format (deterministic, streamable, one file = one work unit,
mirroring WARC's record framing — reference analog: the directory-of-
image-files source, generate_dataset.py's per-file records):

    WARCISH/1\n
    url: <url>\n
    ts: <microseconds since epoch, decimal>\n
    lang: <tag>\n
    len: <payload byte length, decimal>\n
    \n
    <payload bytes>\n

Scale posture: `partitions()` returns ONE InputPartition per container
file — at 10^12 docs the file inventory IS the parallelism, exactly as
with Spark's native FileScan; executors open only their own file, the
driver never reads payload bytes. `pushFilters` accepts equality
filters on the METADATA fields (url/lang) so filtered scans skip
payload materialization per record — the custom-source version of
predicate pushdown (the remaining filters are left for Spark to
re-apply, per the API contract).

Streaming replay of page directories stays on sources/pages.py (native
parquet file source, exactly-once tracked by Spark); this source covers
the archive-container ingest + egress path.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

MAGIC = b"WARCISH/1"

SCHEMA_DDL = "url string, warc_ts timestamp, lang string, html binary"

_EPOCH_NAIVE = datetime(1970, 1, 1)


def register(spark) -> None:
    """Register the source on an arbitrary session — this is the ONLY
    supported registration path. It both registers the DataSource class
    AND enables ``spark.sql.python.filterPushdown.enabled``: the reader
    implements ``pushFilters``, and with the conf at its default (false)
    Spark hard-fails the scan with DATA_SOURCE_PUSHDOWN_DISABLED rather
    than degrading. The conf is runtime-settable, so setting it here
    makes the source work in any session, not only ones built by
    session.get_spark() (which also sets it at builder time)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcishDataSource)


def write_records(path: str, records) -> int:
    """Append-write an iterable of (url, ts_us, lang, payload_bytes)
    records into one container file; returns the record count."""
    n = 0
    with open(path, "wb") as fh:
        for url, ts_us, lang, payload in records:
            payload = payload if payload is not None else b""
            fh.write(MAGIC + b"\n")
            fh.write(b"url: " + str(url).encode() + b"\n")
            fh.write(b"ts: " + str(int(ts_us)).encode() + b"\n")
            fh.write(b"lang: " + str(lang).encode() + b"\n")
            fh.write(b"len: " + str(len(payload)).encode() + b"\n\n")
            fh.write(payload + b"\n")
            n += 1
    return n


def read_records(path: str) -> Iterator[tuple]:
    """Parse one container file -> (url, ts_us, lang, payload)."""
    with open(path, "rb") as fh:
        while True:
            magic = fh.readline()
            if not magic:
                return
            if magic.rstrip(b"\n") != MAGIC:
                raise ValueError(
                    f"{path}: bad record magic {magic!r} — corrupt "
                    "container or not a warcish file")
            hdr = {}
            while True:
                ln = fh.readline()
                if ln in (b"\n", b""):
                    break
                k, _, v = ln.rstrip(b"\n").partition(b": ")
                hdr[k.decode()] = v.decode()
            n = int(hdr["len"])
            payload = fh.read(n)
            fh.read(1)  # trailing newline
            yield hdr["url"], int(hdr["ts"]), hdr.get("lang", ""), payload


@dataclass
class _FilePartition(InputPartition):
    path: str


class WarcishReader(DataSourceReader):
    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("warcish: .load(path) is required")
        self.eq_filters: dict[str, str] = {}

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Accept equality filters on metadata fields (url, lang): the
        reader then drops records before materializing payload bytes
        into Arrow. Everything else is returned as unsupported and
        Spark re-applies it above the scan (safe by contract)."""
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in (("url",), ("lang",)):
                self.eq_filters[f.attribute[0]] = f.value
            else:
                unsupported.append(f)
        return iter(unsupported)

    def partitions(self):
        files = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.endswith(".warcish")
        )
        if not files:
            raise ValueError(f"warcish: no .warcish files under {self.dir}")
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        want = self.eq_filters
        for url, ts_us, lang, payload in read_records(partition.path):
            if "url" in want and url != want["url"]:
                continue
            if "lang" in want and lang != want["lang"]:
                continue
            yield (
                url,
                # integer micros -> naive datetime without a float
                # round-trip (fromtimestamp(us/1e6) can be 1us off)
                _EPOCH_NAIVE + timedelta(microseconds=ts_us),
                lang,
                payload,
            )


class WarcishStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over a growing directory of container
    files. Offsets are positions in the LEXICOGRAPHIC file order —
    container files are immutable once written and named monotonically
    by convention (part-..., or any sortable scheme), so `latestOffset`
    is a single directory listing and each micro-batch plans one
    InputPartition per NEW file (same work-unit shape as the batch
    reader; executors open only their own file). Offsets live in the
    checkpoint WAL, so restart resumes exactly after the last committed
    file — replay of a committed batch re-reads the same file set,
    which is what exactly-once sinks downstream dedup on."""

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("warcish: .load(path) is required")
        # high-watermark of the last offset THIS reader instance planned
        # — lets latestOffset() enumerate exactly the new files and bake
        # the concrete batch file list into the offset (see partitions).
        # None after a restart until the first partitions() call tells
        # us where the WAL left off.
        self._prev_last: str | None = None
        self._prev_offset: dict | None = None

    def _files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.dir) if f.endswith(".warcish"))

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        self._prev_last = ""
        self._prev_offset = {"last": ""}
        return self._prev_offset

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        files = self._files()
        last = files[-1] if files else ""
        if self._prev_last is None:
            # fresh reader after restart and Spark asked for new data
            # before replaying anything (last WAL batch was committed):
            # we do not know the committed watermark, so this one
            # offset carries no file list — partitions() falls back to
            # a live range listing for it (and records the watermark).
            # Known cost: this bare form serializes differently from
            # the committed {"last", "files"} offset, so even with no
            # new files Spark plans ONE empty micro-batch after restart
            # (partitions() computes an empty range); data-exactness is
            # unaffected, but consumers inferring "watermark flush"
            # from numInputRows==0 alone must also check the reported
            # watermark (as __spark_entry__._stream_table's flush gate does).
            return {"last": last}
        if last == self._prev_last and self._prev_offset is not None:
            # no new files: re-return the previous offset VERBATIM —
            # Spark compares offsets by serialized equality, so a fresh
            # {"files": []} dict here would plan a spurious empty batch
            return self._prev_offset
        off = {"last": last,
               "files": [f for f in files if self._prev_last < f <= last]}
        self._prev_last = last
        self._prev_offset = off
        return off

    def partitions(self, start: dict, end: dict):
        # offsets are file NAMES (a lexicographic high-watermark), not
        # list indices: a straggler file sorting below the consumed
        # watermark can never shift other files' positions and corrupt
        # replay — it is skipped, exactly like an event below an
        # event-time watermark. Producer contract: streamed-in files
        # must carry monotonically increasing names across writes (the
        # batch writer's opt-in `streamNames` mode stamps one); uuid
        # suffixes alone do NOT sort across separate append writes.
        #
        # Replay identity: when the end offset was planned by this
        # source it embeds the CONCRETE batch file list ("files"), so a
        # checkpoint replay of a committed batch re-reads exactly the
        # original set even if a straggler has since landed with a name
        # inside the replayed range — the straggler is logged and
        # skipped (it can never join a later batch: it sorts below the
        # consumed watermark). Offsets without "files" (pre-upgrade
        # WALs, or the one post-restart offset planned before the WAL
        # position was known) fall back to a live range listing.
        self._prev_last = end["last"]
        self._prev_offset = end
        live = [f for f in self._files()
                if start["last"] < f <= end["last"]]
        batch = end.get("files")
        if batch is None:
            batch = live
        elif set(live) - set(batch):
            print(
                "warcish: WARNING straggler file(s) inside already-"
                f"planned range ({start['last']!r}, {end['last']!r}]: "
                f"{sorted(set(live) - set(batch))} — skipped to keep "
                "replay byte-identical; name new files monotonically "
                "(streamNames writer option)", file=sys.stderr)
        return [_FilePartition(os.path.join(self.dir, f)) for f in batch]

    def read(self, partition: _FilePartition):
        for url, ts_us, lang, payload in read_records(partition.path):
            yield (
                url,
                _EPOCH_NAIVE + timedelta(microseconds=ts_us),
                lang,
                payload,
            )

    def commit(self, end: dict) -> None:
        # nothing to clean: files are immutable, offsets live in the
        # streaming checkpoint
        pass


@dataclass
class _WriteDone(WriterCommitMessage):
    path: str
    rows: int


class WarcishWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool,
                 seq_prefix: str | None = None,
                 staged_old: list[tuple[str, str]] | None = None):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("warcish: .save(path) is required")
        self.overwrite = overwrite
        self.seq_prefix = seq_prefix
        # (original_path, staged_aside_path) pairs for overwrite mode:
        # the old parts are renamed aside at plan time (invisible to
        # readers — no .warcish suffix) and only DELETED in commit() /
        # RESTORED in abort(), so a failed overwrite leaves the target
        # with its original contents instead of empty.
        self.staged_old = staged_old or []

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.dir, exist_ok=True)
        # default naming: unique suffix so append mode never clobbers an
        # existing part that shares a partition id. With the opt-in
        # `streamNames` option the driver stamps a per-WRITE monotonic
        # epoch prefix, so files from successive append writes sort
        # strictly after all earlier writes' files — the contract the
        # stream reader's name-high-watermark offsets require of
        # producers (uuid suffixes alone do NOT sort across writes).
        if self.seq_prefix is not None:
            name = f"part-{self.seq_prefix}-{pid:05d}.warcish"
        else:
            name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.warcish"
        path = os.path.join(self.dir, name)
        n = write_records(
            path,
            ((r.url,
              # naive datetime -> micros since epoch via INTEGER
              # arithmetic (symmetric with the reader's UTC->naive, so
              # values round-trip regardless of the session timezone).
              # NOT float .timestamp()*1e6: float64 has 52 mantissa
              # bits and present-day epoch-micros need ~51, so ~1% of
              # values truncate 1us under int(float) — breaking the
              # byte/value-exact round-trip contract.
              (r.warc_ts - _EPOCH_NAIVE) // timedelta(microseconds=1)
              if hasattr(r.warc_ts, "timestamp") else int(r.warc_ts),
              r.lang, bytes(r.html) if r.html is not None else b"")
             for r in iterator),
        )
        return _WriteDone(path=path, rows=n)

    def commit(self, messages):
        # overwrite: the staged-aside old parts become garbage only now
        # that every task succeeded — delete them first, then publish
        for _orig, aside in self.staged_old:
            if os.path.exists(aside):
                os.remove(aside)
        # one-file-per-task + driver-side commit marker: same
        # all-or-nothing publication shape as the exactly-once sink
        with open(os.path.join(self.dir, "_SUCCESS"), "w") as fh:
            fh.write("\n".join(f"{m.path}\t{m.rows}" for m in messages))

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
        # overwrite rollback: restore the staged-aside old parts so the
        # target keeps its pre-write contents
        for orig, aside in self.staged_old:
            if os.path.exists(aside) and not os.path.exists(orig):
                os.rename(aside, orig)


class WarcishDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(WarcishDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "warcish"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> WarcishReader:
        return WarcishReader(self.options)

    def streamReader(self, schema: StructType) -> WarcishStreamReader:  # noqa: N802
        return WarcishStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> WarcishWriter:
        import uuid

        # overwrite semantics resolve HERE, on the driver, before any
        # task runs: stale container files from a previous (possibly
        # wider-partitioned) write would otherwise survive under their
        # old part numbers and silently duplicate rows on read. The old
        # parts are STAGED aside (rename, same directory — atomic),
        # not deleted: commit() deletes them, abort() restores them, so
        # a failed overwrite never leaves the target empty. A DRIVER
        # crash between staging and commit/abort does leave the target
        # empty until the next write's recovery sweep (below) restores
        # the aside files — readers in that window see no data, never
        # wrong data.
        path = self.options.get("path")
        staged: list[tuple[str, str]] = []
        if path and os.path.isdir(path):
            # crash-recovery sweep: ".<name>.old-<tag>" leftovers mean
            # a previous overwrite died between plan-time staging and
            # commit()/abort(). Heal before doing anything else — if
            # the original name is absent, RESTORE the aside (the
            # crashed overwrite never published, so the old data is the
            # current data); if present, a later write superseded it:
            # the aside is stale and is deleted (bounds the disk leak).
            for f in os.listdir(path):
                if f.startswith(".") and ".old-" in f:
                    orig_name = f[1:f.rindex(".old-")]
                    orig = os.path.join(path, orig_name)
                    aside = os.path.join(path, f)
                    if os.path.exists(orig):
                        os.remove(aside)
                    else:
                        os.rename(aside, orig)
        if overwrite and path and os.path.isdir(path):
            tag = uuid.uuid4().hex[:8]
            for f in os.listdir(path):
                if f.endswith(".warcish") or f == "_SUCCESS":
                    orig = os.path.join(path, f)
                    aside = os.path.join(path, f".{f}.old-{tag}")
                    os.rename(orig, aside)
                    staged.append((orig, aside))
        # opt-in monotonic naming for stream producers: one
        # microsecond-epoch prefix per WRITE, stamped on the driver at
        # plan time, shared by every task's part file — names from a
        # later append write always sort after this write's names,
        # which is the stream reader's producer contract.
        seq = None
        if str(self.options.get("streamNames", "")).lower() in (
                "true", "1", "yes"):
            seq = format(
                (datetime.now(timezone.utc).replace(tzinfo=None)
                 - _EPOCH_NAIVE) // timedelta(microseconds=1), "020d")
        return WarcishWriter(self.options, overwrite, seq_prefix=seq,
                             staged_old=staged)
