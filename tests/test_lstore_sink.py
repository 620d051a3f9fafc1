"""Distributed lstore-segment sink + live tail-follow (VERDICT r4 items
2 and 3): the write path must be executor-side (no driver collect), the
publish must be atomic, and a processingTime consumer must see live
appends exactly once across ≥3 micro-batches."""

from __future__ import annotations

import os
import struct
import time

import pytest
from pyspark.sql import functions as F


def test_write_segments_distributed_roundtrip(spark, tmp_path):
    """Every partition becomes one segment file written by its own task;
    empty partitions write nothing; no tmp files survive; the parallel
    read returns exactly the written records."""
    from lstore_spark.sources.lstore_log import register, write_segments

    df = (
        spark.range(500)
        .select(
            F.col("id").alias("offset"),
            F.array(F.col("id"), F.col("id") * 2).alias("ints"),
            F.array(F.encode(F.col("id").cast("string"), "UTF-8")).alias("blobs"),
        )
        .repartition(16, "offset")
    )
    seg = tmp_path / "segs"
    seg.mkdir()
    write_segments(df, str(seg))

    names = os.listdir(seg)
    assert 0 < len([f for f in names if f.endswith(".seg")]) <= 16
    assert not any(f.startswith(".") for f in names), "torn tmp file published"

    register(spark)
    back = spark.read.format("lstore_log").option("path", str(seg)).load()
    rows = back.select("offset", "ints", "blobs").collect()
    assert sorted(r.offset for r in rows) == list(range(500))
    by_off = {r.offset: r for r in rows}
    assert by_off[7].ints == [7, 14]
    assert bytes(by_off[7].blobs[0]) == b"7"


def test_sink_source_roundtrip_no_collect(spark, sf_dir):
    """q_source_lstore_log's writer is the distributed sink now — the
    round-trip must still reproduce the original event slice exactly."""
    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES

    got = QUERIES["q_source_lstore_log"](spark, sf_dir)
    want = (load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 2000)
            .select("event_id", "user_id", "event_type"))
    g = sorted(map(tuple, got.select("event_id", "user_id", "event_type").collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w


def test_stream_follow_multibatch_exactly_once(spark, tmp_path):
    """lstore's blocking SearchForward: a processingTime consumer follows
    the store while a producer appends; the appended records must arrive
    across ≥3 distinct micro-batches with no loss and no duplicates
    (the stream offset IS the store's monotone row offset)."""
    from lstore_spark.sources.lstore_log import register, write_segment

    live = tmp_path / "live"
    live.mkdir()
    register(spark)
    write_segment(str(live / "b0.seg"),
                  [(i, [i], [b"x"]) for i in range(100)])

    q = (
        spark.readStream.format("lstore_log")
        .option("path", str(live))
        .load()
        .writeStream.format("memory")
        .queryName("follow_t")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        # processAllAvailable() blocks until the consumer's cursor has
        # passed everything currently in the store — deterministic under
        # load, unlike the former poll-with-deadline loop (a saturated
        # box once took >90 s to deliver the FIRST batch and the test
        # flaked).  Each publish lands in a strictly later micro-batch.
        q.processAllAvailable()
        for published in (1, 2):
            write_segment(
                str(live / f"b{published}.seg"),
                [(i, [i], [b"x"])
                 for i in range(100 * published, 100 * (published + 1))])
            q.processAllAvailable()
        offsets = [r.offset
                   for r in spark.table("follow_t").select("offset").collect()]
        assert len(offsets) == 300, "lost rows across the cursor"
        assert len(set(offsets)) == 300, "replayed rows (not exactly-once)"
        busy = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(busy) >= 3, "appends did not span 3 micro-batches"
    finally:
        q.stop()


def test_segment_codec_roundtrip_property():
    """Property test of the binary segment codec alone (no Spark): any
    record list — empty blob lists, zero-length blobs, negative/extreme
    int64s — must survive write_segment → read_segment_file exactly.
    The distributed sink writes this same framing from executors, so a
    codec asymmetry here would corrupt every segment key."""
    import os
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lstore_spark.sources.lstore_log import (read_segment_file,
                                                 write_segment)

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    record = st.tuples(
        st.integers(min_value=0, max_value=2**62),           # offset
        st.lists(i64, max_size=6),                           # ints
        st.lists(st.binary(max_size=32), max_size=4),        # blobs
    )

    @settings(max_examples=50, deadline=None)
    @given(records=st.lists(record, max_size=8))
    def check(records):
        fd, path = tempfile.mkstemp(suffix=".seg")
        os.close(fd)
        try:
            write_segment(path, records)
            back = [(o, ints, blobs)
                    for o, ints, blobs, _key in read_segment_file(path)]
            assert back == [(o, list(i), list(b)) for o, i, b in records]
            # the derived key column: blobs[0] decoded, None otherwise
            for (_, _, blobs, key), (_, _, orig) in zip(
                    read_segment_file(path), records):
                if orig:
                    try:
                        assert key == bytes(orig[0]).decode("utf-8")
                    except UnicodeDecodeError:
                        assert key is None
                else:
                    assert key is None
        finally:
            os.remove(path)
            idx = path[:-4] + ".idx"
            if os.path.exists(idx):
                os.remove(idx)

    check()


def test_segment_stats_and_file_skipping(spark, tmp_path):
    """lstore's indexed-segment min/max skipping: sealed trailers answer
    (min, max) with one tail seek, and offset predicates prune whole
    segment files at planning time — no executor reads a file whose
    range can't match.  Exact filtering still happens above the scan
    (all filters are returned to Spark unhandled)."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from lstore_spark.sources.lstore_log import (LstoreLogPushdownReader,
                                                 register, segment_stats,
                                                 write_segment)

    seg = tmp_path / "segs"
    seg.mkdir()
    for i in range(4):
        write_segment(str(seg / f"{i:05d}.seg"),
                      [(o, [o], [b""]) for o in range(i * 100, (i + 1) * 100)])
    assert segment_stats(str(seg / "00002.seg")) == (200, 299)

    r = LstoreLogPushdownReader({"path": str(seg)})
    r.pushFilters([GreaterThanOrEqual(("offset",), 250)])
    assert len(r.partitions()) == 2, "files 0 and 1 must be pruned"

    # end-to-end through Spark: pushdown active, results still exact
    register(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = (spark.read.format("lstore_log")
              .option("path", str(seg)).option("pushdown", "true").load()
              .filter(F.col("offset") >= 250))
        assert sorted(row.offset for row in df.select("offset").collect()) \
            == list(range(250, 400))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_scan_log_from_offset_prunes_segments(spark, sf_dir):
    """The q_scan_log_from_offset shape must actually skip files: 8
    range-partitioned sealed segments, an offset window covering ~40% of
    the range, and the pushdown reader planning strictly fewer than 8
    partitions while the result matches the raw table exactly."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES
    from lstore_spark.sources.lstore_log import LstoreLogPushdownReader

    got = QUERIES["q_scan_log_from_offset"](spark, sf_dir)
    want = (load_table(spark, sf_dir, "events")
            .filter((F.col("event_id") >= 5000) & (F.col("event_id") < 9000))
            .select("event_id", "user_id", "event_type"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # probe planning directly against the store the query just wrote —
    # its location is deterministic: scratch_dir(tag, fixture) + PID
    # (globbing /tmp for a legacy name only worked while stale dirs from
    # the pre-scratch_dir naming survived in /tmp)
    import os

    from lstore_spark.catalog import scratch_dir
    store = scratch_dir("logscan", sf_dir)[0] + f"_p{os.getpid()}"
    r = LstoreLogPushdownReader({"path": store})
    n_all = len(r.partitions())
    r.pushFilters([GreaterThanOrEqual(("offset",), 5000),
                   LessThan(("offset",), 9000)])
    n_pruned = len(r.partitions())
    assert n_all == 8
    assert 0 < n_pruned < n_all, f"no pruning: {n_pruned}/{n_all}"


def test_blob_key_sidecar_skips_segments(spark, tmp_path):
    """The pbloom analog: segments hash-clustered on the blob key carry
    sidecar key-set indexes, and a key-equality predicate prunes every
    segment whose index provably lacks the key — at planning time,
    before any executor reads bytes.  Legacy segments without a sidecar
    must never be pruned."""
    import os

    from pyspark.sql.datasource import EqualTo

    from lstore_spark.sources.lstore_log import (LstoreLogPushdownReader,
                                                 segment_keys, write_segment)

    seg = tmp_path / "segs"
    seg.mkdir()
    types = ["click", "view", "purchase", "error"]
    for i, t in enumerate(types):  # one key per segment
        write_segment(str(seg / f"{i:05d}.seg"),
                      [(i * 100 + j, [j], [t.encode()]) for j in range(50)])
    # a legacy segment without a sidecar: candidate regardless of key
    write_segment(str(seg / "99999.seg"),
                  [(10_000 + j, [j], [b"click"]) for j in range(10)])
    os.remove(str(seg / "99999.idx"))

    assert segment_keys(str(seg / "00002.seg")) == ["purchase"]
    r = LstoreLogPushdownReader({"path": str(seg)})
    r.pushFilters([EqualTo(("key",), "purchase")])
    kept = [os.path.basename(p.value) for p in r.partitions()]
    assert kept == ["00002.seg", "99999.seg"], kept

    # end-to-end: pruned plan, exact rows — save/restore the session
    # conf (session-scoped fixture: an unrestored set leaks into every
    # later test, review r11)
    from lstore_spark.sources.lstore_log import register
    register(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = (spark.read.format("lstore_log")
              .option("path", str(seg)).option("pushdown", "true").load()
              .filter(F.col("key") == "purchase"))
        assert sorted(row.offset for row in df.select("offset").collect()) \
            == list(range(200, 250))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_scan_log_by_type_prunes_segments(spark, sf_dir):
    """q_scan_log_by_type must plan strictly fewer than its 8 segments
    for the single-type read, and match the raw table exactly."""
    import os

    from pyspark.sql.datasource import EqualTo

    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES
    from lstore_spark.sources.lstore_log import LstoreLogPushdownReader

    got = QUERIES["q_scan_log_by_type"](spark, sf_dir)
    want = (load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "event_type"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    from lstore_spark.catalog import scratch_dir
    store = scratch_dir("logbytype", sf_dir)[0] + f"_p{os.getpid()}"
    r = LstoreLogPushdownReader({"path": store})
    n_all = len(r.partitions())
    r.pushFilters([EqualTo(("key",), "purchase")])
    n_pruned = len(r.partitions())
    assert 0 < n_pruned < n_all, f"no pruning: {n_pruned}/{n_all}"


def test_pushdown_in_filters_prune(spark, tmp_path):
    """IN-list predicates prune too: key IN (...) skips segments whose
    sidecar key set intersects none of the wanted keys; offset IN (...)
    prunes by the list's [min, max] envelope (sound: pruning may keep
    gap files, never drops a matching one)."""
    import os

    from pyspark.sql.datasource import In

    from lstore_spark.sources.lstore_log import (LstoreLogPushdownReader,
                                                 write_segment)

    seg = tmp_path / "segs"
    seg.mkdir()
    for i, t in enumerate(["click", "view", "purchase", "error"]):
        write_segment(str(seg / f"{i:05d}.seg"),
                      [(i * 100 + j, [j], [t.encode()]) for j in range(50)])

    r = LstoreLogPushdownReader({"path": str(seg)})
    r.pushFilters([In(("key",), ("purchase", "error"))])
    kept = sorted(os.path.basename(p.value) for p in r.partitions())
    assert kept == ["00002.seg", "00003.seg"], kept

    r2 = LstoreLogPushdownReader({"path": str(seg)})
    r2.pushFilters([In(("offset",), (120, 130, 310))])
    kept2 = sorted(os.path.basename(p.value) for p in r2.partitions())
    assert kept2 == ["00001.seg", "00002.seg", "00003.seg"], kept2

    # end-to-end: IN through Spark, exact rows back (conf save/restore:
    # session-scoped fixture, review r11)
    from lstore_spark.sources.lstore_log import register
    register(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = (spark.read.format("lstore_log")
              .option("path", str(seg)).option("pushdown", "true").load()
              .filter(F.col("key").isin("purchase", "error")))
        assert sorted(row.offset for row in df.select("offset").collect()) \
            == list(range(200, 250)) + list(range(300, 350))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_torn_segment_fails_loudly_or_reads_as_unsealed(tmp_path):
    """Crash-consistency contract of the segment codec: truncation at a
    record boundary just loses the seal (the file reads fully as an
    unsealed segment — exactly an in-progress append), while truncation
    MID-record raises instead of silently dropping rows.  A torn file
    can never quietly yield a subset."""
    import os
    import struct as st

    import pytest

    from lstore_spark.sources.lstore_log import (_TRAILER_LEN,
                                                 read_segment_file,
                                                 segment_stats,
                                                 write_segment)

    p = str(tmp_path / "t.seg")
    write_segment(p, [(i, [i, i * 2], [b"abc"]) for i in range(10)])
    full = os.path.getsize(p)

    # chop exactly the trailer: all 10 records intact, seal gone
    with open(p, "r+b") as f:
        f.truncate(full - _TRAILER_LEN)
    assert segment_stats(p) is None
    assert len(list(read_segment_file(p))) == 10

    # chop into the last record: loud failure, not a silent subset
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) - 5)
    with pytest.raises(st.error):
        list(read_segment_file(p))

    # chop 1-3 bytes into the final blob's PAYLOAD (ADVICE r5): the
    # length prefix is intact, so the old reader silently yielded a
    # short/corrupted blob here — must raise like every other tear
    for cut in (1, 2, 3):
        p2 = str(tmp_path / f"t{cut}.seg")
        write_segment(p2, [(i, [i, i * 2], [b"abc"]) for i in range(10)])
        with open(p2, "r+b") as f:
            f.truncate(os.path.getsize(p2) - _TRAILER_LEN - cut)
        with pytest.raises(st.error):
            list(read_segment_file(p2))


def test_write_segment_rejects_null_fields_loudly(tmp_path):
    """review r13: a NULL int or blob used to die rows deep inside
    struct.pack with a context-free TypeError (the shape a NULL-ts
    event reaches the sink as) — the writer must name the record and
    the no-NULL-encoding contract instead."""
    import pytest

    from lstore_spark.sources.lstore_log import write_segment

    p = str(tmp_path / "n.seg")
    for bad in ([(0, [1, None], [b"k"])],
                [(0, [1], [None])],
                [(None, [1], [b"k"])]):
        with pytest.raises(ValueError, match="NULL ints/blobs"):
            write_segment(p, bad)


def test_segment_read_blob_larger_than_window(tmp_path):
    """review r13 edge: a single blob LARGER than the 8 MiB parse
    window must stream through intact — refill() grows the window to
    the record's size for exactly that record (the property test's
    32-byte blobs never cross a window boundary)."""
    from lstore_spark.sources.lstore_log import (_READ_CHUNK,
                                                 read_segment_file,
                                                 write_segment)

    big = bytes(range(256)) * ((_READ_CHUNK * 2) // 256 + 1)  # ~17 MB
    assert len(big) > 2 * _READ_CHUNK
    p = str(tmp_path / "bigblob.seg")
    write_segment(p, [(0, [1], [b"before"]),
                      (1, [2], [b"k", big]),
                      (2, [3], [b"after"])])
    got = list(read_segment_file(p))
    assert [(o, ints) for o, ints, _b, _k in got] == \
        [(0, [1]), (1, [2]), (2, [3])]
    assert got[1][2][1] == big, "oversized blob corrupted by the window"
    assert got[0][3] == "before" and got[2][3] == "after"


def test_segment_read_memory_is_window_bounded(tmp_path):
    """review r13: read_segment_file must stream (8 MiB parse window),
    not slurp — peak Python memory O(window), not O(segment).  A 64 MB
    segment read under tracemalloc must peak under 4 windows (the old
    f.read() slurp peaked at >= the segment size).  The full-scale
    twin (420 MB segment, 25 MB peak) is
    scripts/segread_mem_probe.py → segread_mem_probe_r13.json."""
    import tracemalloc

    from lstore_spark.sources.lstore_log import (_READ_CHUNK,
                                                 read_segment_file,
                                                 write_segment)

    p = str(tmp_path / "big.seg")
    blob = b"x" * 1000
    n_rows = 60_000  # ~64 MB
    write_segment(p, ((i, [i, i * 2], [b"k", blob]) for i in range(n_rows)))
    assert os.path.getsize(p) > 6 * _READ_CHUNK  # segment >> window

    tracemalloc.start()
    total = sum(1 for _ in read_segment_file(p))
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert total == n_rows
    assert peak < 4 * _READ_CHUNK, \
        f"peak {peak / 1e6:.0f} MB for a {os.path.getsize(p) / 1e6:.0f} " \
        "MB segment — reader is slurping again"


def test_republish_never_pairs_new_index_with_old_segment(tmp_path):
    """ADVICE r5: republishing a segment path with DIFFERENT content must
    never leave an index describing data the segment beside it doesn't
    hold (the pushdown reader would silently prune live rows).  The
    writer drops the stale sidecar before touching segment bytes and
    publishes the new sidecar only after, so at every observable point
    the index is either absent (pruning disabled — sound) or matches."""
    import os

    from lstore_spark.sources.lstore_log import (_idx_path,
                                                 read_segment_file,
                                                 segment_keys,
                                                 write_segment)

    p = str(tmp_path / "r.seg")
    write_segment(p, [(i, [i], [b"alpha"]) for i in range(5)])
    assert segment_keys(p) == ["alpha"]
    # republish with different keys: index must follow the data
    write_segment(p, [(i, [i], [b"beta"]) for i in range(5)])
    assert segment_keys(p) == ["beta"]
    assert {r[3] for r in read_segment_file(p)} == {"beta"}
    # crash simulation: segment republished but idx write never happened
    # → reader must fall back to scanning, not prune on stale keys
    os.remove(_idx_path(p))
    assert segment_keys(p) is None  # absence = scan, never a wrong prune


def test_sink_republish_is_idempotent(spark, tmp_path):
    """Task-retry discipline end-to-end: writing the SAME partitioned
    data into the store twice (a whole-stage retry, the worst case)
    republishes every part-<pid>.seg by atomic rename — same file set,
    same contents, no duplicates and no leftover tmp files."""
    import glob
    import hashlib
    import os

    from lstore_spark.catalog import default_sf_dir, load_table
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 write_segments)

    sf_dir = default_sf_dir()
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 500))
    shaped = (events_as_segment_rows(ev)
              .repartitionByRange(3, "offset").sortWithinPartitions("offset"))
    out = str(tmp_path / "segs")
    os.makedirs(out)

    def snapshot():
        return {os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
                for p in glob.glob(out + "/*.seg")}

    write_segments(shaped, out)
    first = snapshot()
    write_segments(shaped, out)  # the "retry"
    second = snapshot()
    assert first == second and len(first) == 3
    assert not glob.glob(out + "/.*tmp*"), "leaked tmp files"


def test_torn_segment_exhaustive_every_byte(tmp_path):
    """The complete crash-consistency proof: truncate the segment at
    EVERY byte length from full-1 down to 0 and assert the reader
    either raises (torn mid-record) or yields an exact PREFIX of the
    original records — never a corrupted value, never a phantom row.
    This subsumes the spot-checks above (record boundary, mid-length,
    mid-payload) with the whole space of single-crash file states the
    append-only writer can leave behind."""
    import os
    import shutil
    import struct as st

    from lstore_spark.sources.lstore_log import (read_segment_file,
                                                 write_segment)

    p = str(tmp_path / "full.seg")
    write_segment(
        p, [(i, [i, i * 2, i * 3], [f"blob{i}".encode(), b"x" * i])
            for i in range(6)])
    base = list(read_segment_file(p))
    assert len(base) == 6
    full = os.path.getsize(p)

    q = str(tmp_path / "torn.seg")
    shutil.copyfile(p, q)
    outcomes = {"prefix": 0, "raised": 0}
    for cut in range(full - 1, -1, -1):
        with open(q, "r+b") as f:
            f.truncate(cut)
        try:
            got = list(read_segment_file(q))
        except (st.error, ValueError):
            outcomes["raised"] += 1
            continue
        assert got == base[:len(got)], f"cut={cut}: not a clean prefix"
        outcomes["prefix"] += 1
    # both outcomes must actually occur across the sweep (sanity that
    # the test exercises real boundaries, not one degenerate branch)
    assert outcomes["prefix"] > 0 and outcomes["raised"] > 0


def test_corrupt_idx_never_misprunes(tmp_path):
    """An index may only ever DISABLE pruning, never redirect it: every
    byte-truncation of the sidecar JSON and every valid-JSON-but-wrong-
    shape payload must make segment_keys return None (scan) or the true
    key list — returning anything else (e.g. the characters of a string
    "keys" value iterating inside the pruning set-intersection) would
    silently skip a live segment."""
    import json
    import os

    from lstore_spark.sources.lstore_log import (_idx_path, segment_keys,
                                                 write_segment)

    p = str(tmp_path / "s.seg")
    write_segment(p, [(i, [i], [b"alpha" if i % 2 else b"beta"])
                      for i in range(8)])
    true_keys = segment_keys(p)
    assert sorted(true_keys) == ["alpha", "beta"]

    idx = _idx_path(p)
    blob = open(idx, "rb").read()
    for cut in range(len(blob)):
        with open(idx, "wb") as f:
            f.write(blob[:cut])
        ks = segment_keys(p)
        assert ks is None or sorted(ks) == ["alpha", "beta"], f"cut={cut}"

    for bad in ['{"keys": "abc"}', '{"keys": 5}', '{"keys": [1, 2]}',
                '{"keys": {"a": 1}}', '{}', 'null', '[]']:
        with open(idx, "w") as f:
            f.write(bad)
        assert segment_keys(p) is None, f"payload={bad!r}"

    # restore and confirm the true index still round-trips
    with open(idx, "wb") as f:
        f.write(blob)
    assert sorted(segment_keys(p)) == ["alpha", "beta"]


def test_corrupt_trailer_bounds_disable_pruning(tmp_path):
    """segment_stats shares the segment_keys contract: a tail that
    passes the sentinel framing but carries an inverted or negative
    offset range must read as 'unsealed — scan' (None), not as a
    pruning range that would skip live rows."""
    import os
    import struct as st

    from lstore_spark.sources.lstore_log import (_TRAILER_LEN,
                                                 segment_stats,
                                                 write_segment)

    p = str(tmp_path / "s.seg")
    write_segment(p, [(i + 5, [i], [b"k"]) for i in range(4)])
    assert segment_stats(p) == (5, 8)

    size = os.path.getsize(p)
    for lo, hi in [(8, 5), (-3, 10), (-2, -1)]:
        with open(p, "r+b") as f:
            f.seek(size - _TRAILER_LEN + 12)
            f.write(st.pack("<qq", lo, hi))
        assert segment_stats(p) is None, (lo, hi)


def _seg_files(d):
    import os
    return sorted(f for f in os.listdir(d) if f.endswith(".seg"))


def test_native_writer_roundtrip_and_overwrite(spark, sf_dir, tmp_path):
    """df.write.format("lstore_log"): exact binary round-trip through
    the native writer, and overwrite replaces prior segments only at
    commit (append then overwrite-with-subset leaves exactly the
    subset)."""
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 register,
                                                 segments_as_events)

    register(spark)
    ev = load_table(spark, sf_dir, "events").limit(500)
    d = str(tmp_path / "store")
    import os
    os.makedirs(d)
    rows = events_as_segment_rows(ev).repartition(4, "offset")
    rows.write.format("lstore_log").option("path", d).mode("append").save()
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", d).load())
    assert back.count() == 500
    assert back.select("event_id").exceptAll(
        ev.select("event_id")).count() == 0

    half = events_as_segment_rows(ev.filter(F.col("event_id") % 2 == 0)) \
        .repartition(2, "offset")
    half.write.format("lstore_log").option("path", d).mode("overwrite").save()
    back2 = segments_as_events(
        spark.read.format("lstore_log").option("path", d).load())
    assert back2.count() == ev.filter(F.col("event_id") % 2 == 0).count()
    assert len(_seg_files(d)) == 2


def test_native_writer_failed_job_publishes_nothing(spark, sf_dir, tmp_path):
    """Job-level atomicity (what the two-phase commit buys over the
    task-publishing write_segments path): a job with one failing
    partition must leave ZERO new .seg files — not a partial store."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from lstore_spark.catalog import load_table
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 register)

    register(spark)
    d = str(tmp_path / "store")
    os.makedirs(d)

    @F.udf(returnType=LongType())
    def boom(off):
        if off is not None and off % 997 == 13:
            raise RuntimeError("planted task failure")
        return off

    ev = load_table(spark, sf_dir, "events").limit(2000)
    rows = (events_as_segment_rows(ev)
            .withColumn("offset", boom(F.col("offset")))
            .repartition(4, "offset"))
    with pytest.raises(Exception):
        rows.write.format("lstore_log").option("path", d) \
            .mode("append").save()
    assert _seg_files(d) == [], "failed job published segments"


def test_native_stream_writer_exactly_once_on_restart(spark, sf_dir, tmp_path):
    """writeStream.format("lstore_log"): drain, then restart from the
    SAME checkpoint — already-committed batches must not duplicate
    (batch-qualified names + atomic rename = idempotent replay)."""
    from lstore_spark.catalog import load_table
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 register,
                                                 segments_as_events)
    from lstore_spark.streaming.events import _events_stream

    register(spark)
    d, cp = str(tmp_path / "store"), str(tmp_path / "cp")
    import os
    os.makedirs(d)
    for _ in range(2):  # second run restarts from the same checkpoint
        q = (events_as_segment_rows(_events_stream(spark, sf_dir))
             .writeStream.format("lstore_log").option("path", d)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", d).load())
    ev = load_table(spark, sf_dir, "events")
    assert back.count() == ev.count()
    assert back.select("event_id").exceptAll(
        ev.select("event_id")).count() == 0


def test_time_travel_pins_versions_and_fails_loudly_on_expiry(spark, sf_dir, tmp_path):
    """Snapshot isolation: v1 readers see exactly v1's rows after later
    appends; deleting a pinned segment (retention outrunning snapshot
    retention) turns the v1 read into a LOUD error — never a silent
    subset."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from lstore_spark.sources.lstore_log import (events_as_segment_rows,
                                                 manifest_segments,
                                                 register,
                                                 segments_as_events,
                                                 snapshot_store)

    register(spark)
    d = str(tmp_path / "store")
    os.makedirs(d)
    ev = load_table(spark, sf_dir, "events")
    (events_as_segment_rows(ev.filter(F.col("event_id") < 300))
     .repartition(2, "offset").write.format("lstore_log")
     .option("path", d).mode("append").save())
    v1 = snapshot_store(d)
    (events_as_segment_rows(
        ev.filter((F.col("event_id") >= 300) & (F.col("event_id") < 600)))
     .repartition(2, "offset").write.format("lstore_log")
     .option("path", d).mode("append").save())
    v2 = snapshot_store(d)

    def at(v):
        return segments_as_events(
            spark.read.format("lstore_log").option("path", d)
            .option("version", str(v)).load())

    assert at(v1).count() == 300
    assert at(v2).count() == 600
    # expire one pinned segment → v1 read must raise, v2 likewise
    victim = manifest_segments(d, v1)[0]
    os.remove(os.path.join(d, victim))
    with pytest.raises(Exception, match="no longer exists|FileNotFound"):
        at(v1).count()
    # live (unversioned) read keeps working on what remains
    assert segments_as_events(
        spark.read.format("lstore_log").option("path", d).load()).count() > 0


def test_vacuum_age_gate_spares_inflight_staging(tmp_path):
    """vacuum_store(min_age_s): staging files younger than the window
    must survive (an in-flight job's stage files are indistinguishable
    from orphans except by age), while old debris goes."""
    import os
    import time

    from lstore_spark.sources.lstore_log import vacuum_store, write_segment

    d = str(tmp_path / "store")
    os.makedirs(d)
    write_segment(os.path.join(d, "part-00000.seg"), [(1, [1], [b"k"])])
    old = os.path.join(d, ".stage-old.seg.1")
    young = os.path.join(d, ".stage-young.seg.2")
    for p in (old, young):
        with open(p, "w") as f:
            f.write("x")
    past = time.time() - 7200
    os.utime(old, (past, past))
    # the DEFAULT window (1 h, review r13: the old 0.0 default deleted a
    # concurrently-staging job's files on a bare call) collects the 2 h
    # debris but spares the just-staged file
    removed = vacuum_store(d)
    assert removed == {"staged": 1, "orphan_idx": 0, "manifests": 0}
    assert not os.path.exists(old) and os.path.exists(young), \
        "bare vacuum_store ate in-flight staging"
    # explicit narrow window: 30-min debris goes, fresh file still kept
    with open(old, "w") as f:
        f.write("x")
    mid = time.time() - 1800
    os.utime(old, (mid, mid))
    removed = vacuum_store(d, min_age_s=600)
    assert removed == {"staged": 1, "orphan_idx": 0, "manifests": 0}
    assert not os.path.exists(old) and os.path.exists(young)
    assert os.path.exists(os.path.join(d, "part-00000.seg"))


def test_vacuum_collects_manifest_temps_and_retires_old_manifests(tmp_path):
    """ADVICE r6: snapshot_store's temps are ``manifest-….json.tmp`` —
    suffix '.tmp', no trailing dash — and the old stage-debris test
    never matched them, so crash-orphaned temps accumulated forever.
    Also exercises the opt-in manifest retention knob."""
    import os
    import time

    from lstore_spark.sources.lstore_log import (snapshot_store,
                                                 vacuum_store,
                                                 write_segment)

    d = str(tmp_path / "store")
    os.makedirs(d)
    write_segment(os.path.join(d, "part-00000.seg"), [(1, [1], [b"k"])])
    v1, v2, v3 = (snapshot_store(d) for _ in range(3))
    orphan_tmp = os.path.join(d, "manifest-deadbeef.json.tmp")
    with open(orphan_tmp, "w") as f:
        f.write("{}")
    past = time.time() - 3600
    for f in os.listdir(d):
        os.utime(os.path.join(d, f), (past, past))
    # default: temps collected, manifests all kept
    removed = vacuum_store(d, min_age_s=600)
    assert removed["staged"] == 1 and removed["manifests"] == 0
    assert not os.path.exists(orphan_tmp)
    assert all(os.path.exists(os.path.join(d, f"manifest-v{v}.json"))
               for v in (v1, v2, v3))
    # keep_manifests=1: only the newest survives
    removed = vacuum_store(d, min_age_s=0, keep_manifests=1)
    assert removed["manifests"] == 2
    assert os.path.exists(os.path.join(d, f"manifest-v{v3}.json"))
    assert not os.path.exists(os.path.join(d, f"manifest-v{v1}.json"))


def test_snapshot_publish_race_mints_distinct_versions(tmp_path):
    """VERDICT r6 #1: concurrent snapshot publishers must never mint
    the same version (the old max+1 → os.replace silently REDEFINED a
    pinned snapshot).  Simulate the race by pre-creating the version
    the publisher would claim first — os.link must lose loudly and the
    publisher must retry onto the next id, leaving the existing
    manifest byte-identical."""
    import json
    import os

    from lstore_spark.sources.lstore_log import (manifest_segments,
                                                 snapshot_store,
                                                 write_segment)

    d = str(tmp_path / "store")
    os.makedirs(d)
    write_segment(os.path.join(d, "part-00000.seg"), [(1, [1], [b"k"])])
    v1 = snapshot_store(d)
    # rival publisher claims v2 with a DIFFERENT pinned set
    rival = os.path.join(d, f"manifest-v{v1 + 1}.json")
    rival_doc = {"version": v1 + 1, "segments": ["part-rival.seg"]}
    with open(rival, "w") as f:
        json.dump(rival_doc, f)
    write_segment(os.path.join(d, "part-00001.seg"), [(2, [2], [b"k"])])
    v = snapshot_store(d)
    assert v == v1 + 2  # lost the race on v1+1, retried onto the next id
    with open(rival) as f:  # the rival's pinned set survives untouched
        assert json.load(f) == rival_doc
    assert sorted(manifest_segments(d, v)) == [
        "part-00000.seg", "part-00001.seg"]
    # concurrency smoke: hammer from threads, all versions distinct
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(lambda _: snapshot_store(d), range(16)))
    assert len(set(got)) == 16
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


def _stage_msg(L, d, basename, final_name, off=1):
    """Hand-stage a segment the way _stage_partition would (tmp seg +
    tmp idx + final name), without needing a TaskContext."""
    import json
    import os

    tmp_seg = os.path.join(d, f".stage-{basename}.seg.0")
    tmp_idx = os.path.join(d, f".stage-{basename}.idx.0")
    L.write_segment(tmp_seg, [(off, [off], [b"k"])])
    # write_segment publishes its own sidecar next to the tmp name;
    # the real stage path doesn't — drop it and stage the idx by hand
    side = L._idx_path(tmp_seg)
    if os.path.exists(side):
        os.remove(side)
    with open(tmp_idx, "w") as f:
        json.dump({"keys": ["k"]}, f)
    return L._SegStaged(tmp_seg=tmp_seg, tmp_idx=tmp_idx,
                        final_seg=os.path.join(d, final_name))


def test_overwrite_commit_publishes_before_delete(tmp_path, monkeypatch):
    """ADVICE r6: overwrite must publish the new generation BEFORE
    deleting the old — a driver crash during publish (simulated by a
    raising _publish) must leave the old generation fully readable."""
    import os

    import pytest

    import lstore_spark.sources.lstore_log as L

    d = str(tmp_path / "store")
    os.makedirs(d)
    L.write_segment(os.path.join(d, "part-old.seg"), [(1, [1], [b"k"])])

    def boom(messages):
        raise RuntimeError("publish crashed")

    w = L.LstoreLogWriter({"path": d}, overwrite=True)
    msg = _stage_msg(L, d, f"{w.token}-00000", f"part-{w.token}-00000.seg")
    monkeypatch.setattr(L, "_publish", boom)
    with pytest.raises(RuntimeError, match="publish crashed"):
        w.commit([msg])
    assert os.path.exists(os.path.join(d, "part-old.seg"))  # old intact
    monkeypatch.undo()
    # successful commit: new generation in, old generation gone
    w2 = L.LstoreLogWriter({"path": d}, overwrite=True)
    msg2 = _stage_msg(L, d, f"{w2.token}-00000",
                      f"part-{w2.token}-00000.seg", off=2)
    w2.commit([msg2])
    assert not os.path.exists(os.path.join(d, "part-old.seg"))
    assert os.path.exists(os.path.join(d, f"part-{w2.token}-00000.seg"))


def test_stream_replay_with_fewer_partitions_drops_stale_segments(tmp_path):
    """ADVICE r6: a replayed micro-batch that plans FEWER partitions
    than the original attempt (changed shuffle config across restart)
    must not leave the extra part-<batch>-* segments from attempt one
    on disk — that is duplicate data no rename ever overwrites."""
    import os

    import lstore_spark.sources.lstore_log as L

    d = str(tmp_path / "store")
    os.makedirs(d)
    w = L.LstoreLogStreamWriter({"path": d})
    # attempt 1 of batch 7: three partitions
    msgs1 = [_stage_msg(L, d, f"b-{i:05d}", f"part-b-{i:05d}.seg", off=i)
             for i in range(3)]
    w.commit(msgs1, batchId=7)
    assert len([f for f in os.listdir(d) if f.endswith(".seg")]) == 3
    # replay of batch 7 after restart: ONE partition
    w2 = L.LstoreLogStreamWriter({"path": d})
    msgs2 = [_stage_msg(L, d, "b-00000", "part-b-00000.seg", off=9)]
    w2.commit(msgs2, batchId=7)
    segs = sorted(f for f in os.listdir(d) if f.endswith(".seg"))
    assert segs == ["part-000007-b-00000.seg"]  # stale partitions purged
    idxs = sorted(f for f in os.listdir(d) if f.endswith(".idx"))
    assert idxs == ["part-000007-b-00000.idx"]
    # a NEIGHBOR batch's segments are untouched by batch 7's replay
    w3 = L.LstoreLogStreamWriter({"path": d})
    w3.commit([_stage_msg(L, d, "b-00000", "part-b-00000.seg", off=11)],
              batchId=8)
    w4 = L.LstoreLogStreamWriter({"path": d})
    w4.commit([_stage_msg(L, d, "b-00000", "part-b-00000.seg", off=12)],
              batchId=7)
    segs = sorted(f for f in os.listdir(d) if f.endswith(".seg"))
    assert segs == ["part-000007-b-00000.seg", "part-000008-b-00000.seg"]


def test_corrupt_manifest_fails_loudly_never_narrows(spark, tmp_path):
    """Snapshot-isolation robustness (the torn-file discipline applied
    to manifests): a corrupt/truncated/wrong-shape manifest must raise
    loudly on a pinned read — silently narrowing the pinned set would
    be invisible row loss.  Every byte-level truncation of a valid
    manifest plus shape-level corruptions are swept."""
    import json
    import os

    import pytest

    from lstore_spark.sources.lstore_log import (manifest_segments,
                                                 snapshot_store,
                                                 write_segment)

    d = str(tmp_path / "store")
    os.makedirs(d)
    for i in range(2):
        write_segment(os.path.join(d, f"part-{i:05d}.seg"),
                      [(i, [i], [b"k"])])
    v = snapshot_store(d)
    p = os.path.join(d, f"manifest-v{v}.json")
    good = open(p, "rb").read()
    assert manifest_segments(d, v) == ["part-00000.seg", "part-00001.seg"]

    # every truncation of the valid bytes: loud error or (for prefixes
    # that happen to parse) a shape error — never a silent subset
    for cut in range(len(good)):
        with open(p, "wb") as f:
            f.write(good[:cut])
        with pytest.raises((ValueError, json.JSONDecodeError)):
            got = manifest_segments(d, v)
            # a parseable prefix would have to yield the FULL set to
            # escape the raise; anything less is the silent-narrow bug
            if got != ["part-00000.seg", "part-00001.seg"]:
                raise ValueError("narrowed")

    # shape corruptions: wrong types, segments not a list of strings
    for doc in ['null', '[]', '{"version": 1}',
                '{"segments": "part-00000.seg"}',
                '{"segments": [1, 2]}',
                '{"segments": ["part-00000.seg", 7]}']:
        with open(p, "w") as f:
            f.write(doc)
        with pytest.raises(ValueError):
            manifest_segments(d, v)

    with open(p, "wb") as f:
        f.write(good)  # restore — pinned read works again
    assert manifest_segments(d, v) == ["part-00000.seg", "part-00001.seg"]


def test_closure_and_datasource_serializers_byte_identical(spark, tmp_path):
    """write_segments' self-contained closure and the DataSource path's
    _stage_partition are two DELIBERATE copies of the segment
    serializer with different deployment boundaries (the closure
    pickles by value so workers need no package import; the DataSource
    path imports the module anyway).  The trade is documented in
    write_segments' docstring — this test pins the non-negotiable part:
    identical rows must produce byte-identical segment files and
    identical key-index sidecars through BOTH paths (review r10)."""
    import json

    from lstore_spark.sources.lstore_log import register, write_segments

    df = (
        spark.range(64)
        .select(
            F.col("id").alias("offset"),
            F.array(F.col("id"), F.col("id") * 3, F.lit(7)).alias("ints"),
            F.array(
                F.encode(F.concat(F.lit("k"), (F.col("id") % 5).cast("string")),
                         "UTF-8"),
                F.encode(F.col("id").cast("string"), "UTF-8"),
            ).alias("blobs"),
        )
        .coalesce(1)  # one partition, stable row order from range()
    )
    a, b = tmp_path / "closure", tmp_path / "datasource"
    a.mkdir(), b.mkdir()
    write_segments(df, str(a))
    register(spark)
    df.write.format("lstore_log").option("path", str(b)).mode("append").save()

    seg_a = [f for f in os.listdir(a) if f.endswith(".seg")]
    seg_b = [f for f in os.listdir(b) if f.endswith(".seg")]
    assert len(seg_a) == 1 and len(seg_b) == 1
    bytes_a = (a / seg_a[0]).read_bytes()
    bytes_b = (b / seg_b[0]).read_bytes()
    assert bytes_a == bytes_b, (
        "segment serializers drifted: closure and DataSource paths "
        "produced different bytes for identical rows")
    idx_a = json.loads((a / (seg_a[0][:-4] + ".idx")).read_text())
    idx_b = json.loads((b / (seg_b[0][:-4] + ".idx")).read_text())
    assert idx_a == idx_b


def test_parquet_bloom_options_actually_write_blooms(spark, tmp_path):
    """q_sink_parquet claims parquet bloom filters (the pbloom-index
    analog).  This runtime's parquet-hadoop 1.16 SILENTLY ignores the
    per-column 'parquet.bloom.filter.enabled#<col>' form (review r10 —
    the exhibit shipped a no-op for rounds), so the sink now uses
    global enable + adaptive sizing.  Pin that the recipe actually
    materializes bitsets via the only signal pyarrow exposes: the
    written bytes must GROW by the bloom sections."""
    import glob
    import os

    df = spark.range(20000).select(
        (F.col("id") % 365).cast("int").alias("day"),
        F.col("id").alias("v"))

    def written(path, with_bloom: bool) -> int:
        w = df.coalesce(1).write.mode("overwrite")
        if with_bloom:
            w = (w.option("parquet.bloom.filter.enabled", "true")
                 .option("parquet.bloom.filter.adaptive.enabled", "true"))
        w.parquet(path)
        return sum(os.path.getsize(f)
                   for f in glob.glob(path + "/*.parquet"))

    plain = written(str(tmp_path / "plain"), False)
    bloom = written(str(tmp_path / "bloom"), True)
    assert bloom > plain, (
        "bloom options wrote no extra bytes — the writer ignored them "
        "(the exact silent no-op class review r10 found)")


def test_negative_offsets_rejected_at_every_write_path(spark, tmp_path):
    """review r12: negative offsets live in the trailer-sentinel space —
    the reader silently skips them as trailers, so a write must fail
    loudly instead of producing a segment that loses rows on read."""
    import pytest

    from lstore_spark.sources.lstore_log import (register, write_segment,
                                                 write_segments)

    with pytest.raises(ValueError, match="offset -1"):
        write_segment(str(tmp_path / "a.seg"), [(-1, [1], [b"x"])])
    df = spark.createDataFrame(
        [(-5, [1], [b"x"])], "offset long, ints array<long>, blobs array<binary>")
    (tmp_path / "d1").mkdir()
    (tmp_path / "d2").mkdir()
    with pytest.raises(Exception, match="offset -5"):
        write_segments(df.repartition(1), str(tmp_path / "d1"))
    register(spark)
    with pytest.raises(Exception, match="offset -5"):
        (df.write.format("lstore_log")
         .option("path", str(tmp_path / "d2")).mode("append").save())


def test_negative_blob_count_fails_loudly(tmp_path):
    """review r12: a corrupt n_blobs=-1 header must raise, not silently
    parse zero blobs and resume mid-payload."""
    import struct

    import pytest

    from lstore_spark.sources.lstore_log import read_segment_file

    p = tmp_path / "bad.seg"
    with open(p, "wb") as f:
        f.write(struct.pack("<qi", 0, 1) + struct.pack("<q", 7)
                + struct.pack("<i", -1))
    with pytest.raises(struct.error, match="negative blob count"):
        list(read_segment_file(str(p)))


def test_stream_reader_survives_segment_deletion(tmp_path):
    """review r12: retention deleting sealed segments mid-tail makes the
    micro-batch's file-set difference EMPTY while the offsets differ —
    the planned batch must read as empty, not crash on a None
    partition (the batch reader's own documented API shape)."""
    from lstore_spark.sources.lstore_log import (LstoreLogStreamReader,
                                                 write_segment)

    write_segment(str(tmp_path / "a.seg"), [(0, [0], [b"x"])])
    write_segment(str(tmp_path / "b.seg"), [(1, [1], [b"y"])])
    r = LstoreLogStreamReader({"path": str(tmp_path)})
    start = {"files": ["a.seg", "b.seg"]}
    (tmp_path / "b.seg").unlink()
    end = r.latestOffset()
    assert end != start  # a batch IS planned for the shrunken set
    parts = r.partitions(start, end)
    rows = [rec for p in parts for rec in r.read(p)]
    assert rows == [], "deleted-only batch must yield nothing, not crash"


def test_register_ships_zip_once_per_application(spark, monkeypatch):
    """review r12: every key calls register(); the zip walk+ship must be
    memoized per application while dataSource.register still runs."""
    from lstore_spark.sources import lstore_log as mod

    calls = []
    monkeypatch.setattr(mod, "_package_zip",
                        lambda: calls.append(1) or mod.__file__)
    mod._SHIPPED_APPS.discard(spark.sparkContext.applicationId)
    mod.register(spark)
    mod.register(spark)
    assert len(calls) == 1, "zip rebuilt/re-shipped on a repeat register"


def test_overwrite_commit_crash_fuzz_every_fs_boundary(tmp_path, monkeypatch):
    """r13 (the consumer crash-harness pattern applied to the sink's
    two-phase commit): inject a simulated kill at EVERY os.replace /
    os.remove boundary inside a 3-segment overwrite commit over a
    2-segment old generation.  After every crash point: all visible
    *.seg files parse (tmp+rename means never torn), visible rows are
    always a subset of old ∪ new rows and never empty (publish-before-
    delete — the store is never lost), and one retried overwrite job
    converges to exactly the new generation with zero stage debris."""
    import os

    import pytest

    import lstore_spark.sources.lstore_log as L

    OLD = {1, 2}
    NEW = {11, 12, 13}

    def fresh(name):
        d = str(tmp_path / name)
        os.makedirs(d)
        for i, off in enumerate(sorted(OLD)):
            L.write_segment(os.path.join(d, f"part-old{i}.seg"),
                            [(off, [off], [b"k"])])
        return d

    def visible_rows(d):
        out = set()
        for f in sorted(os.listdir(d)):
            if f.endswith(".seg"):
                for rec in L.read_segment_file(os.path.join(d, f)):
                    out.add(rec[0])
        return out

    def run_commit(d):
        w = L.LstoreLogWriter({"path": d}, overwrite=True)
        msgs = [_stage_msg(L, d, f"{w.token}-{i:05d}",
                           f"part-{w.token}-{i:05d}.seg", off=off)
                for i, off in enumerate(sorted(NEW))]
        w.commit(msgs)

    class _Kill(Exception):
        pass

    real_replace, real_remove = os.replace, os.remove
    # count the fs-mutation boundaries of one clean commit (the store
    # itself is created BEFORE the patch — write_segment's own ops are
    # not commit boundaries)
    clean = fresh("clean")
    n = {"c": 0}
    monkeypatch.setattr(os, "replace",
                        lambda a, b: (n.__setitem__("c", n["c"] + 1),
                                      real_replace(a, b))[1])
    monkeypatch.setattr(os, "remove",
                        lambda p: (n.__setitem__("c", n["c"] + 1),
                                   real_remove(p))[1])
    run_commit(clean)
    monkeypatch.setattr(os, "replace", real_replace)
    monkeypatch.setattr(os, "remove", real_remove)
    total = n["c"]
    assert visible_rows(clean) == NEW and total >= 8

    for k in range(total):
        d = fresh(f"k{k}")
        left = {"n": k}

        def hit(left=left):
            if left["n"] == 0:
                raise _Kill()
            left["n"] -= 1

        monkeypatch.setattr(os, "replace",
                            lambda a, b, _h=hit: (_h(), real_replace(a, b))[1])
        monkeypatch.setattr(os, "remove",
                            lambda p, _h=hit: (_h(), real_remove(p))[1])
        with pytest.raises(_Kill):
            run_commit(d)
        monkeypatch.setattr(os, "replace", real_replace)
        monkeypatch.setattr(os, "remove", real_remove)

        vis = visible_rows(d)  # every visible segment must parse
        assert vis <= (OLD | NEW), f"crash@{k}: phantom rows {vis}"
        assert vis, f"crash@{k}: store lost (publish-before-delete broken)"
        # retry converges: one fresh overwrite job owns the store
        run_commit(d)
        assert visible_rows(d) == NEW, f"crash@{k}: retry did not converge"
        assert not [f for f in os.listdir(d) if f.endswith(".seg")
                    and L.segment_stats(os.path.join(d, f)) is None], \
            f"crash@{k}: unsealed debris published"


def test_stream_commit_crash_fuzz_replay_exactly_once(tmp_path, monkeypatch):
    """r13: the streaming sink's replay contract under kill-mid-commit.
    Batch 7 (3 partitions) crashes at EVERY fs boundary of its commit;
    the restarted run replays batch 7 with a DIFFERENT partition count
    (2 — the ADVICE r6 shape) under a new run token.  After every crash
    point: prior batches' rows are untouched, every visible segment
    parses, and the replay converges to exactly one copy of each batch-7
    row (multiset equality — duplicates from the crashed attempt must
    be re-deleted by the replay, stale extra partitions included)."""
    import os

    import pytest

    import lstore_spark.sources.lstore_log as L

    B7 = [70, 71, 72]

    def fresh(name):
        d = str(tmp_path / name)
        os.makedirs(d)
        L.write_segment(os.path.join(d, "part-000006-prior.seg"),
                        [(60, [60], [b"k"])])
        return d

    def all_offsets(d):
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".seg"):
                out += [rec[0] for rec in
                        L.read_segment_file(os.path.join(d, f))]
        return sorted(out)

    def commit_batch7(d, parts):
        w = L.LstoreLogStreamWriter({"path": d})
        msgs = []
        for i, offs in enumerate(parts):
            m = _stage_msg(L, d, f"b-{w.token}-{i:05d}",
                           f"part-{w.token}-{i:05d}.seg", off=offs[0])
            # _stage_msg stages one row; append the rest by restaging
            if len(offs) > 1:
                L.write_segment(m.tmp_seg, [(o, [o], [b"k"]) for o in offs])
                side = L._idx_path(m.tmp_seg)
                if os.path.exists(side):
                    os.remove(side)
            msgs.append(m)
        w.commit(msgs, batchId=7)

    class _Kill(Exception):
        pass

    real_replace, real_remove = os.replace, os.remove
    clean = fresh("clean")
    n = {"c": 0}
    monkeypatch.setattr(os, "replace",
                        lambda a, b: (n.__setitem__("c", n["c"] + 1),
                                      real_replace(a, b))[1])
    monkeypatch.setattr(os, "remove",
                        lambda p: (n.__setitem__("c", n["c"] + 1),
                                   real_remove(p))[1])
    commit_batch7(clean, [[70], [71], [72]])
    monkeypatch.setattr(os, "replace", real_replace)
    monkeypatch.setattr(os, "remove", real_remove)
    total = n["c"]
    assert all_offsets(clean) == [60] + B7 and total >= 8

    for k in range(total):
        d = fresh(f"k{k}")
        left = {"n": k}

        def hit(left=left):
            if left["n"] == 0:
                raise _Kill()
            left["n"] -= 1

        monkeypatch.setattr(os, "replace",
                            lambda a, b, _h=hit: (_h(), real_replace(a, b))[1])
        monkeypatch.setattr(os, "remove",
                            lambda p, _h=hit: (_h(), real_remove(p))[1])
        with pytest.raises(_Kill):
            commit_batch7(d, [[70], [71], [72]])
        monkeypatch.setattr(os, "replace", real_replace)
        monkeypatch.setattr(os, "remove", real_remove)

        vis = all_offsets(d)
        assert vis[0] == 60, f"crash@{k}: prior batch lost"
        assert set(vis) <= {60, *B7}, f"crash@{k}: phantom rows {vis}"
        # replay with FEWER partitions under a new run token
        commit_batch7(d, [[70, 71], [72]])
        assert all_offsets(d) == [60] + B7, \
            f"crash@{k}: replay not exactly-once ({all_offsets(d)})"


def test_scan_segments_matches_datasource_row_for_row(spark, tmp_path):
    """The consumers' scan path (``plan_segments`` + ``scan_segments``)
    must return what ``spark.read.format("lstore_log")`` returns, in the
    same order and schema — including a non-UTF-8 blobs[0] (key None),
    a zero-blob record, an empty ints list and a trailer-less segment."""
    from lstore_spark.sources.lstore_log import (_TRAILER_LEN, plan_segments,
                                                 register, scan_segments,
                                                 write_segment)

    seg = tmp_path / "segs"
    seg.mkdir()
    write_segment(str(seg / "a.seg"),
                  [(o, [o, -o], [f"k{o % 2}".encode(), b"\x00\x01"])
                   for o in range(50)])
    write_segment(str(seg / "b.seg"), [(50, [1], [b"\xff\xfe", b"x"]),
                                       (51, [], []),
                                       (52, [2, 3], [b""])])
    write_segment(str(seg / "c.seg"), [(60, [6], [b"\xc3\xa9t\xc3\xa9"])])
    c = seg / "c.seg"
    with open(c, "r+b") as fh:
        fh.truncate(os.path.getsize(c) - _TRAILER_LEN)
    register(spark)
    want = spark.read.format("lstore_log").option("path", str(seg)).load()
    got = scan_segments(spark, plan_segments(str(seg)))
    assert got.schema == want.schema
    rows = got.collect()
    assert rows == want.collect()
    by_off = {r.offset: r for r in rows}
    assert len(rows) == 54
    assert by_off[50].key is None and by_off[50].blobs == [b"\xff\xfe", b"x"]
    assert by_off[51].ints == [] and by_off[51].blobs == [] \
        and by_off[51].key is None
    assert by_off[52].key == "" and by_off[60].key == "été"
    assert got.rdd.getNumPartitions() == 3, "one task per segment file"


def _corrupt_segment(path, case: str) -> None:
    big = 2 ** 31 - 1
    with open(path, "wb") as f:
        if case == "n_ints":  # 16 GiB of ints claimed by a 76-byte file
            f.write(struct.pack("<qi", 0, big) + b"\0" * 64)
        else:  # a 2 GiB blob claimed inside a 35-byte file
            f.write(struct.pack("<qi", 0, 1) + struct.pack("<q", 7)
                    + struct.pack("<ii", 1, big) + b"abc")


@pytest.mark.parametrize("case", ["n_ints", "blob_len"])
def test_corrupt_length_fails_as_torn_not_memory_error(tmp_path, case):
    """A corrupt int count or blob length must raise struct.error("torn
    segment ...") before the read it would size.  Checked in a child
    capped at a 1 GiB address space, where attempting the multi-GiB
    read raises MemoryError instead."""
    import subprocess
    import sys
    import textwrap

    p = tmp_path / f"{case}.seg"
    _corrupt_segment(p, case)
    child = textwrap.dedent("""
        import resource, struct, sys
        from lstore_spark.sources.lstore_log import read_segment_file
        resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
        try:
            list(read_segment_file(sys.argv[1]))
        except struct.error as e:
            assert "torn segment" in str(e), e
        else:
            raise AssertionError("corrupt segment parsed")
        """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", child, str(p)],
                       env=dict(os.environ, PYTHONPATH=repo),
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
