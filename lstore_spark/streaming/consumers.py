"""Named consumer groups over the segment store (VERDICT r10 #3).

lstore's consumption model [UNVERIFIED: pub — the reference mount is
empty; reconstructed from public esdb/lstore message-queue semantics]:
N named consumers tail the shared append-only log, each owning a
DURABLE committed offset, and the store reports per-group lag
(committed vs tail).  The engine already had the single-cursor
equivalent — ``q_stream_follow``'s monotone offset cursor plus
Structured Streaming checkpoint resume — but no surface for several
independent named consumers.  This module adds it, storage-side:

- a cursor is one JSON file per group under ``<store>/_cursors/``,
  committed by the single-file tmp+``os.replace`` protocol (same
  discipline as ``catalog.publish_dir`` / ``pq_codebook``), so a crash
  mid-commit can never tear it and a restarted consumer resumes from
  the last fully-committed offset — at-least-once delivery, exactly
  like a Kafka group cursor;
- ``poll`` plans its read on the driver with ``plan_segments``, so
  sealed segments whose trailer range lies at-or-below the cursor are
  pruned before any task runs, and reads the rest with
  ``scan_segments`` — one Spark task per segment and no Python
  DataSource planner calls: a caught-up consumer touches O(new data),
  never O(log);
- ``lag_report`` is the broker's lag relation: (grp, committed_offset,
  tail_offset, lag_offsets, lag_records).  The tail comes from sealed
  trailer stats (a manifest-grade metadata read); the record lag rides
  ONE shared scan with one conditional aggregate per group.

None of the consumer calls changes session state: they register no
data source and set no conf.

Scale: cursor I/O is O(#groups) driver-side metadata; polls are
segment-pruned scans; the lag scan is a single linear pass shared by
all groups.  Nothing here is per-record driver work.
"""

from __future__ import annotations

import functools
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fresh_scratch_dir, load_table
from ..registry import query
from ..sources.lstore_log import (events_as_segment_rows, plan_segments,
                                  register, scan_segments, segment_stats,
                                  write_segments)

CURSOR_DIR = "_cursors"
_GROUP_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _cursor_path(store: str, group: str) -> str:
    if not _GROUP_RE.match(group):
        raise ValueError(f"invalid consumer group name: {group!r}")
    return os.path.join(store, CURSOR_DIR, f"{group}.json")


def ensure_group(store: str, group: str) -> None:
    """Register ``group`` with no consumed offset (cursor = -1) if it
    does not already exist — the 'create consumer group' verb.  An
    existing cursor is left untouched.  The exists-check and the write
    share commit_offset's per-group flock: unlocked, a preempted
    ensure_group could overwrite a cursor a concurrent consumer had
    just committed, regressing it to -1 (review r11)."""
    import fcntl

    path = _cursor_path(store, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if not os.path.exists(path):
            _write_cursor(path, -1)


def groups(store: str) -> list[str]:
    """All registered group names (cursor files present), sorted.
    '@' entries are assigned-protocol state (membership docs,
    per-segment cursor dirs, heartbeat dirs), not groups."""
    d = os.path.join(store, CURSOR_DIR)
    try:
        # endswith('.json') alone excludes _atomic_json staging files
        # (named '<x>.json.tmp<pid>'): a substring '.tmp' test here hid
        # any legally-named group containing '.tmp' (e.g.
        # 'backfill.tmp') from groups()/lag_report (ADVICE r12)
        return sorted(n[:-5] for n in os.listdir(d)
                      if n.endswith(".json") and "@" not in n)
    except OSError:
        return []


def committed_offset(store: str, group: str) -> int:
    """The group's last durably committed offset; -1 when the group has
    never committed (or does not exist) — deliver-from-the-beginning."""
    # resolve the path OUTSIDE the tolerant read (review r13): the
    # except swallowed _cursor_path's name-validation ValueError, so an
    # invalid group name silently read as -1 — a typo'd consumer
    # re-read the whole store, and lag_report spliced the raw name into
    # its stack() SQL before any validation could fire
    path = _cursor_path(store, group)
    try:
        with open(path) as fh:
            return int(json.load(fh)["offset"])
    except (OSError, ValueError, KeyError):
        return -1


def _write_cursor(path: str, offset: int) -> None:
    # atomic single-file commit (ADVICE r10's bpe-staging lesson
    # applied from the start); see _atomic_json below for the shape
    _atomic_json(path, {"offset": int(offset)})


def commit_offset(store: str, group: str, offset: int) -> int:
    """Durably commit ``offset`` for ``group`` (atomic, monotone).
    Committing below the current cursor raises — lstore cursors only
    move forward; a consumer that wants replay uses a NEW group.
    Returns the committed offset.

    The monotonicity check and the write happen under a per-group
    flock: without it, two committers' read-check-write sequences can
    interleave and the later os.replace silently moves the durable
    cursor BACKWARDS past a higher concurrent commit (review r11).
    The lock is advisory and local-FS scoped — matching the store's
    single-host segment layout; a shared-nothing deployment would put
    the cursor in a CAS-capable object store."""
    if offset is None:
        raise ValueError(f"commit_offset({group}): offset is None "
                         "(empty poll? commit nothing instead)")
    path = _cursor_path(store, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    import fcntl

    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cur = committed_offset(store, group)
        if offset < cur:
            raise ValueError(
                f"commit_offset({group}): {offset} regresses below the "
                f"committed cursor {cur}")
        _write_cursor(path, offset)
    return offset


def tail_offset(store: str) -> int:
    """Max record offset in the store, from sealed trailer stats — a
    metadata read, one tail seek per segment, no data scan.  An
    unsealed/legacy segment (no trailer) falls back to a driver-side
    read of THAT file only; -1 for an empty store."""
    from ..sources.lstore_log import read_segment_file

    tail = -1
    try:
        names = [n for n in os.listdir(store) if n.endswith(".seg")]
    except OSError:
        return -1
    for n in names:
        p = os.path.join(store, n)
        stats = segment_stats(p)
        if stats is not None:
            tail = max(tail, stats[1])
        else:
            tail = max([tail] + [rec[0] for rec in read_segment_file(p)])
    return tail


def poll(spark: SparkSession, store: str, group: str,
         max_records: int | None = None) -> DataFrame:
    """Records past the group's cursor, in segment schema (offset, ints,
    blobs, key).  ``plan_segments`` prunes fully-consumed sealed
    segments on the driver; ``scan_segments`` reads each remaining one
    in its own task.  ``max_records`` bounds the batch to the LOWEST
    unconsumed offsets (a TakeOrdered — the broker's max-poll-records):
    consume, process, then ``commit_offset(store, group, batch max
    offset)``."""
    cur = committed_offset(store, group)
    raw = (scan_segments(spark, plan_segments(store, lo=cur + 1))
           .filter(F.col("offset") > cur))
    if max_records is not None:
        raw = raw.orderBy("offset").limit(max_records)
    return raw


# --- assigned (partitioned) consumption: per-segment cursors + -------
# --- generation-fenced membership (ADVICE r11 / VERDICT r11 #3) ------
#
# The scalar group cursor above is the UNPARTITIONED protocol (one
# logical consumer, possibly polling in bounded batches).  Scale-out
# consumption must NOT share it: N instances commit independently, and
# an instance committing "its batch's max offset" into a shared scalar
# would silently mark other instances' lower unconsumed offsets as
# consumed (ADVICE r11 — the at-least-once violation).  Assigned mode
# therefore commits PER SEGMENT, exactly like Kafka's per-partition
# offsets: segment files are the partitions, each carries its own
# durable cursor under <store>/_cursors/<group>@segs/, and an
# instance's commits can only ever touch segments it owns.
#
# Membership is generation-numbered (<group>@gen.json, atomic
# tmp+replace under the group flock): ``rebalance`` publishes a new
# assignment whenever instances join or leave, and ``commit_assigned``
# FENCES — a commit carrying a stale generation raises instead of
# writing, so an instance that kept polling after reassignment cannot
# corrupt the new owners' progress.  (Polls are planning-time reads;
# the commit is the fenced barrier, as in Kafka.)
#
# Protocol paths use '@', a character _GROUP_RE forbids in group names,
# so no group's scalar cursor file can collide with another group's
# membership doc (review r12: with a '.' separator, a group literally
# named 'workers.gen' would clobber workers' membership doc — dots ARE
# legal in group names); groups() additionally skips '@' entries so the
# membership doc never reads as a phantom group.


def _gen_path(store: str, group: str) -> str:
    return _cursor_path(store, group)[:-5] + "@gen.json"


def _seg_cursor_dir(store: str, group: str) -> str:
    return _cursor_path(store, group)[:-5] + "@segs"


def _atomic_json(path: str, doc: dict) -> None:
    """Single-file atomic publish shared by every durable record in
    this module (scalar cursors, per-segment cursors, membership docs,
    heartbeats): build under a PID-suffixed tmp, one os.replace.  A
    reader never sees a torn file; a crash between write and replace
    leaves only a tmp, which the try/finally reaps."""
    tmp = f"{path}.tmp{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _read_gen_doc(store: str, group: str) -> tuple[int, int, list, dict]:
    """(generation, n_consumers, members, assignment); zeros/empties
    when the group has never rebalanced — ONE parse shared by
    membership/auto_rebalance (review r12)."""
    try:
        with open(_gen_path(store, group)) as fh:
            doc = json.load(fh)
        assignment = dict(doc["assignment"])
        members = sorted(int(m) for m in doc.get(
            "members", sorted(set(assignment.values()))))
        return (int(doc["generation"]), int(doc["n_consumers"]),
                members, assignment)
    except (OSError, ValueError, KeyError, TypeError):
        # TypeError: a doc whose JSON root (or 'assignment') is not a
        # mapping must degrade to never-rebalanced like every other
        # malformed doc, not leak out of membership() (ADVICE r12)
        return (0, 0, [], {})


def membership(store: str, group: str) -> tuple[int, int, dict[str, int]]:
    """The group's current (generation, n_consumers, assignment).
    Generation 0 with an empty assignment = never rebalanced."""
    gen, n, _members, assignment = _read_gen_doc(store, group)
    return (gen, n, assignment)


def rebalance(store: str, group: str, n_consumers: int,
              members: list[int] | None = None,
              tolerate_unsealed: bool = False) -> tuple[int, dict]:
    """Publish a NEW generation for ``group``: recompute the round-robin
    assignment over the sealed segments as of now, bump the generation,
    and atomically replace the membership doc (tmp + ``os.replace``
    under the group flock — a crash mid-rebalance leaves only ignorable
    tmp debris and the previous generation fully intact).  Call on any
    membership change (instance joined / died) — or let heartbeats do
    it (``auto_rebalance``); returns ``(generation, assignment)``.
    Commits carrying the previous generation are fenced from this
    moment on.

    ``members`` names the instance ids explicitly (sorted rank →
    round-robin slot); default is ``range(n_consumers)``.  Named
    members let a survivor set keep its ids across generations — after
    instance 1 of {0,1,2} dies, generation N+1 is published with
    members=[0,2] and those two ids keep polling/committing as
    themselves.

    ``tolerate_unsealed`` skips trailer-less .seg files instead of
    raising (auto_rebalance's liveness path — a stray unsealed file
    must never wedge dead-instance fencing; review r13); the default
    keeps the loud error for explicit operator calls."""
    import fcntl

    if members is not None:
        members = sorted(set(int(m) for m in members))
        if not members:
            raise ValueError(f"rebalance({group}): empty member set")
        n_consumers = len(members)
    else:
        members = list(range(int(n_consumers)))
    path = _gen_path(store, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        # list segments INSIDE the lock: listed-before-lock, a stalled
        # rebalancer could publish the newest generation from a
        # pre-seal snapshot, silently dropping the newest segment from
        # the current assignment (review r12)
        slots = assign_segments(store, n_consumers,
                                skip_unsealed=tolerate_unsealed)
        assignment = {seg: members[slot] for seg, slot in slots.items()}
        gen, _n, _m, _a = _read_gen_doc(store, group)
        _atomic_json(path, {
            "generation": gen + 1, "n_consumers": int(n_consumers),
            "members": members, "assignment": assignment})
    return gen + 1, assignment


# --- heartbeat liveness: the trigger that GENERATES a rebalance -------
#
# ``rebalance`` is the verb; heartbeats are the detector (VERDICT r11
# missing #2: nothing previously *noticed* a dead instance).  Each
# instance periodically touches <store>/_cursors/<group>.members/
# <id>.json (atomic tmp+replace); ``auto_rebalance`` compares the
# membership doc against the instances whose heartbeat is fresher than
# the TTL and publishes a new generation ONLY when they differ — the
# dead instance's zombie is fenced from that moment, and an unchanged
# fleet costs one directory listing, no generation churn.

def _members_dir(store: str, group: str) -> str:
    return _cursor_path(store, group)[:-5] + "@members"


def heartbeat(store: str, group: str, instance: int) -> None:
    """Record that ``instance`` is alive now (atomic single-file
    publish; O(1) metadata — call on every poll loop)."""
    import time

    d = _members_dir(store, group)
    os.makedirs(d, exist_ok=True)
    _atomic_json(os.path.join(d, f"{int(instance)}.json"),
                 {"ts": time.time()})


def live_members(store: str, group: str, ttl_sec: float = 30.0) -> list[int]:
    """Instance ids whose heartbeat is fresher than ``ttl_sec``."""
    import time

    d = _members_dir(store, group)
    now = time.time()
    out = []
    try:
        names = os.listdir(d)
    except OSError:
        return []
    for n in names:
        if not n.endswith(".json") or ".tmp" in n:
            continue
        try:
            inst = int(n[:-5])  # a stray non-numeric name is not a
            # live vote (review r12: it must never crash the detector)
            with open(os.path.join(d, n)) as fh:
                ts = float(json.load(fh)["ts"])
        except (OSError, ValueError, KeyError):
            continue  # torn tmp debris / foreign file → not a vote
        if now - ts <= ttl_sec:
            out.append(inst)
    return sorted(out)


def auto_rebalance(store: str, group: str,
                   ttl_sec: float = 30.0) -> tuple[int, dict]:
    """Publish a new generation iff (a) the live-member set (heartbeats
    fresher than ``ttl_sec``) differs from the current generation's
    member list, or (b) segments have sealed/vanished since the current
    assignment was published (review r12: membership-only detection
    left records in a newly sealed segment assigned to NOBODY forever
    under a stable fleet — lag grew with every heartbeat green);
    otherwise return the current generation unchanged.  Run by any
    instance (or a supervisor) on its poll cadence: when an instance
    dies, the first caller after the TTL fences it and the survivors
    pick up its segments; when the log grows, the next caller extends
    the assignment.  The steady-state cost is two directory listings —
    no trailer seeks, no generation churn.  Raises when NO member is
    live: an empty fleet must be an operator decision, not a silent
    zero-consumer generation."""
    live = live_members(store, group, ttl_sec)
    if not live:
        raise ValueError(
            f"auto_rebalance({group}): no live members within "
            f"{ttl_sec}s — refusing to publish an empty generation")
    gen, _n, current, assignment = _read_gen_doc(store, group)
    # an instance owning zero segments (more members than segments)
    # sits in the doc's member list, so it does NOT read as a
    # membership change on every call
    #
    # Steady state stays two directory listings, no trailer seeks: the
    # raw '*.seg' set normally equals the assignment exactly.  Only on
    # a mismatch does sealed-set eligibility get re-derived the way
    # assign_segments sees it (trailer present, via segment_stats): one
    # stray trailer-less segment otherwise made the set comparison
    # mismatch forever and every auto_rebalance call raise through
    # assign_segments — wedging dead-instance fencing for the whole
    # group, where live_members deliberately tolerates foreign files
    # (ADVICE r12).  An unsealed file neither forces nor crashes a
    # rebalance — the publish path passes tolerate_unsealed so fencing
    # proceeds even with a writer mid-seal (review r13); explicit
    # rebalance() calls keep the loud error.
    raw = {f for f in os.listdir(store) if f.endswith(".seg")}
    if live == current and raw == set(assignment):
        return gen, assignment
    sealed = {f for f in raw
              if segment_stats(os.path.join(store, f)) is not None}
    if live == current and sealed == set(assignment):
        return gen, assignment
    return rebalance(store, group, len(live), members=live,
                     tolerate_unsealed=True)


def committed_segment_offsets(store: str, group: str) -> dict[str, int]:
    """Per-segment durable cursors for ``group`` (assigned protocol);
    a segment absent from the map has consumed nothing (-1)."""
    d = _seg_cursor_dir(store, group)
    out: dict[str, int] = {}
    try:
        names = os.listdir(d)
    except OSError:
        return out
    for n in names:
        if not n.endswith(".json"):
            continue
        try:
            with open(os.path.join(d, n)) as fh:
                out[n[:-5]] = int(json.load(fh)["offset"])
        except (OSError, ValueError, KeyError):
            continue  # torn tmp debris etc. — never consumed
    return out


def commit_assigned(store: str, group: str, consumer: int, generation: int,
                    offsets: dict[str, int]) -> None:
    """Fenced per-segment commit: durably record ``offsets`` (segment →
    max consumed offset) for ``consumer``.  Raises — writing NOTHING —
    when ``generation`` is stale (the instance was fenced by a
    rebalance), when a segment is not assigned to this consumer in the
    current generation, when an offset lies outside the segment's
    sealed trailer range, or when it regresses a prior commit.  Each
    segment cursor is a single-file atomic tmp+replace; the whole call
    runs under the group flock so validate-then-write can't interleave
    with a concurrent rebalance or commit."""
    import fcntl

    gen_lock = _gen_path(store, group) + ".lock"
    os.makedirs(os.path.dirname(gen_lock), exist_ok=True)
    with open(gen_lock, "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cur_gen, _, assignment = membership(store, group)
        if generation != cur_gen:
            raise ValueError(
                f"commit_assigned({group}): generation {generation} is "
                f"fenced (current is {cur_gen}) — this instance was "
                "rebalanced away; rejoin and poll under the new "
                "generation")
        d = _seg_cursor_dir(store, group)
        os.makedirs(d, exist_ok=True)
        staged = []
        for seg, off in sorted(offsets.items()):
            if assignment.get(seg) != consumer:
                raise ValueError(
                    f"commit_assigned({group}): segment {seg} is not "
                    f"assigned to consumer {consumer} in generation "
                    f"{cur_gen}")
            stats = segment_stats(os.path.join(store, seg))
            if stats is None:
                raise ValueError(
                    f"commit_assigned({group}): {seg} has no trailer")
            lo, hi = stats
            if not (lo <= off <= hi):
                raise ValueError(
                    f"commit_assigned({group}): offset {off} outside "
                    f"{seg}'s sealed range [{lo}, {hi}]")
            # read only THIS segment's cursor (review r12: loading the
            # whole cursor dir held the exclusive lock O(#segments) per
            # commit, contradicting the O(touched) claim)
            try:
                with open(os.path.join(d, f"{seg}.json")) as fh:
                    prev = int(json.load(fh)["offset"])
            except (OSError, ValueError, KeyError):
                prev = -1
            if off < prev:
                raise ValueError(
                    f"commit_assigned({group}): {seg} offset {off} "
                    f"regresses below committed {prev}")
            staged.append((seg, off))
        # all validated (none written yet — a bad entry rejects the
        # whole batch); now publish each atomically
        for seg, off in staged:
            _write_cursor(os.path.join(d, f"{seg}.json"), off)


def assigned_frontier(store: str, group: str) -> int:
    """The contiguous consumption frontier of an assigned-protocol
    group: the largest offset X such that every offset ≤ X is
    committed, derived from the per-segment cursors over lo-ordered
    sealed segments — the scalar a lag report wants for a partitioned
    group.  Pure metadata (one trailer seek per segment)."""
    seg_cur = committed_segment_offsets(store, group)
    stats = []
    for f in os.listdir(store):
        if f.endswith(".seg"):
            s = segment_stats(os.path.join(store, f))
            if s is not None:
                stats.append((s[0], s[1], f))
    frontier = -1
    for lo, hi, f in sorted(stats):
        cur = seg_cur.get(f, -1)
        if cur >= hi:
            frontier = hi
            continue
        if cur >= lo:
            frontier = cur
        break
    return frontier


def poll_assigned(spark: SparkSession, store: str, group: str,
                  consumer: int, n_consumers: int | None = None,
                  generation: int | None = None) -> DataFrame:
    """One consumer INSTANCE's poll, restricted to its assigned
    segments (``plan_segments``' ``segments``, which fails loudly on a
    stale assignment) — each of the group's N instances scans a
    disjoint file subset in its own session.

    Progress is tracked PER SEGMENT (``commit_assigned``), never via
    the shared scalar group cursor.  Segments are planned in one group
    per distinct cursor value, each with that cursor as its
    ``plan_segments`` lower bound: fully-consumed segments are pruned
    on the driver, the rest read through ``scan_segments`` filtered
    ``offset > cursor``.  The union's branches cover disjoint files,
    so no byte is scanned twice.

    Pass ``generation`` (from ``rebalance``) to poll a managed group —
    a stale generation raises immediately, and ``commit_assigned``
    records durable per-segment progress.  ``n_consumers`` is the
    STATIC mode: a one-shot parallel snapshot read with the assignment
    recomputed deterministically and no membership doc — it READS any
    per-segment cursors a prior managed run left behind, but offers no
    commit path of its own (``commit_assigned`` requires a published
    generation; durable progress means ``rebalance`` first — the
    Kafka rule that only group members commit)."""
    if generation is not None:
        cur_gen, _n, assignment = membership(store, group)
        if generation != cur_gen:
            raise ValueError(
                f"poll_assigned({group}): generation {generation} is "
                f"fenced (current is {cur_gen})")
    elif n_consumers is not None:
        assignment = assign_segments(store, n_consumers)
    else:
        raise ValueError("poll_assigned: pass generation= (managed) "
                         "or n_consumers= (static)")
    seg_cur = committed_segment_offsets(store, group)
    # one branch per distinct cursor value (untouched segments share -1;
    # steady-state consumption has at most one in-flight segment per
    # instance) so a cursor filter never leaks onto a sibling segment
    # with different progress
    by_cursor: dict[int, list[str]] = {}
    for s, c in assignment.items():
        if c == consumer:
            by_cursor.setdefault(seg_cur.get(s, -1), []).append(s)
    branches = []
    for cur, segs in sorted(by_cursor.items()):
        files = plan_segments(store, lo=cur + 1, segments=segs)
        if files:
            branches.append(scan_segments(spark, files)
                            .filter(F.col("offset") > cur))
    if not branches:
        # nothing to read (unassigned instance, or fully caught up)
        return scan_segments(spark, [])
    return functools.reduce(DataFrame.unionByName, branches)


def lag_report(spark: SparkSession, store: str,
               names: list[str] | None = None) -> DataFrame:
    """The broker lag relation: one row per group with its committed
    offset, the store tail, offset-units lag, and the exact unconsumed
    record count.  One shared ``scan_segments`` pass over the segments
    ``plan_segments`` keeps above the LOWEST cursor (a segment at or
    below every cursor adds nothing to any group's lag), one
    conditional aggregate per group (the 1-row aggregate is unstacked
    JVM-side — no driver collect)."""
    names = groups(store) if names is None else names
    if not names:
        raise ValueError(f"lag_report: no consumer groups under {store}")
    cursors = [(g, committed_offset(store, g)) for g in names]
    tail = tail_offset(store)
    lowest = min(c for _g, c in cursors)
    raw = scan_segments(spark, plan_segments(store, lo=lowest + 1))
    one = raw.agg(*[
        F.sum((F.col("offset") > F.lit(c)).cast("long")).alias(f"_lag_{i}")
        for i, (_g, c) in enumerate(cursors)])
    stack_args = ", ".join(
        f"'{g}', CAST({c} AS BIGINT), _lag_{i}"
        for i, (g, c) in enumerate(cursors))
    return (one.select(F.expr(
        f"stack({len(cursors)}, {stack_args}) "
        "AS (grp, committed_offset, lag_records)"))
        .select(
            "grp", "committed_offset",
            F.lit(tail).cast("long").alias("tail_offset"),
            (F.lit(tail).cast("long") - F.col("committed_offset"))
            .alias("lag_offsets"),
            F.coalesce(F.col("lag_records"), F.lit(0).cast("long"))
            .alias("lag_records"))
        .orderBy("grp"))


def assign_segments(store: str, n_consumers: int,
                    skip_unsealed: bool = False) -> dict[str, int]:
    """Deterministic segment→consumer assignment for a group scaling
    out to ``n_consumers`` instances (the partition-assignment verb of
    every log broker): sealed segments ordered by their trailer lo
    offset, round-robin by rank.  Pure metadata — one trailer seek per
    segment, no data scan; re-running after new segments seal extends
    the assignment without moving existing segments (ranks of sealed
    segments never change in an append-only store)."""
    if n_consumers <= 0:
        raise ValueError(f"n_consumers must be positive: {n_consumers}")
    stats = []
    for f in sorted(os.listdir(store)):
        if f.endswith(".seg"):
            s = segment_stats(os.path.join(store, f))
            if s is None:
                if skip_unsealed:
                    continue  # liveness path: not assignable YET
                raise ValueError(
                    f"assign_segments: unsealed segment {f} has no "
                    "trailer — seal (or compact) before assigning")
            stats.append((s[0], f))
    return {f: i % n_consumers for i, (_lo, f) in enumerate(sorted(stats))}


def _fixed_width_store(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """A 9-segment store over events (event_id < 900) with fixed-width
    offset ranges: segment bK holds exactly offsets [K*100, K*100+99],
    so segment rank ≡ floor(lo/100) and a DuckDB oracle can recompute
    any assignment declaratively.  An exhibit-scale driver loop of 9
    small jobs (the distributed range-partitioned sink elsewhere trades
    this determinism for one job)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 900)
          .select("event_id", "ts", "user_id", "event_type"))
    store = fresh_scratch_dir(tag, sf_dir)
    # all 9 range counts in ONE job: the loud staging check below needs
    # to distinguish an empty range from a failed write
    range_n = {int(r["k"]): r["count"] for r in
               ev.groupBy(F.floor(F.col("event_id") / 100).alias("k"))
               .count().collect()}
    for k in range(9):
        sdir = os.path.join(store, f"stage{k}")
        os.makedirs(sdir)
        batch = ev.filter((F.col("event_id") >= k * 100)
                          & (F.col("event_id") < (k + 1) * 100))
        n = range_n.get(k, 0)
        write_segments(events_as_segment_rows(batch).repartition(1), sdir)
        # locate by extension + distinguish "range was empty" from
        # "sink naming drifted" (review r13: the hardcoded part-00000
        # existence check silently dropped ALL segments on naming
        # drift — the exact class q_stream_follow's publish() made
        # loud in r12)
        staged = sorted(f for f in os.listdir(sdir) if f.endswith(".seg"))
        if not staged:
            if n > 0:
                raise RuntimeError(
                    f"_fixed_width_store: range {k} has {n} rows but "
                    "write_segments staged no .seg — sink naming "
                    "drifted or the write failed")
            continue  # genuinely empty range: no segment
        if len(staged) != 1:
            raise RuntimeError(
                f"_fixed_width_store: range {k} staged {staged}, "
                "expected exactly one segment from repartition(1)")
        src = os.path.join(sdir, staged[0])
        os.rename(src, os.path.join(store, f"b{k}.seg"))
        idx = src[:-len(".seg")] + ".idx"
        if os.path.exists(idx):
            os.rename(idx, os.path.join(store, f"b{k}.idx"))
    return store


@query(
    "q_stream_consumer_assignment",
    oracle="""
WITH base AS (
  SELECT event_id, CAST(floor(event_id / 100) AS BIGINT) % 3 AS consumer
  FROM events WHERE event_id < 900
)
SELECT consumer,
       COUNT(DISTINCT CAST(floor(event_id / 100) AS BIGINT)) AS n_segments,
       COUNT(*) AS n_records,
       CAST(SUM(event_id) AS BIGINT) AS sum_offsets,
       MIN(event_id) AS min_offset,
       MAX(event_id) AS max_offset
FROM base GROUP BY consumer ORDER BY consumer
""",
)
def q_stream_consumer_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer scale-out: one group's stream split across 3 consumer
    instances by deterministic segment assignment (round-robin over
    lo-ordered sealed segments — ``assign_segments``), summarized per
    consumer as exact integers (segment count, record count, offset
    sum/min/max).  The store is built as fixed-width offset ranges
    (width 100 over event_id < 900, one atomic publish per range —
    the q_stream_follow staging pattern), so segment rank ≡
    floor(offset/100) and the DuckDB oracle recomputes the WHOLE
    assignment declaratively: disjointness and exhaustiveness of the
    per-consumer slices is hash-proven, not asserted.  Scale: the
    assignment itself is trailer metadata; each consumer instance then
    polls only its own segments — read parallelism without any
    coordination beyond the shared cursor protocol."""
    store = _fixed_width_store(spark, sf_dir, "congrp_assign")
    register(spark)

    assignment = assign_segments(store, 3)
    # sanity: the fixed-width build makes rank ≡ floor(lo/100); the
    # relation below recomputes the same mapping column-side so the ONE
    # shared scan covers every consumer (per-instance polls would be 3
    # separate reads of the same store)
    raw = spark.read.format("lstore_log").option("path", store).load()
    consumer = F.pmod(F.floor(F.col("offset") / 100), F.lit(3)).cast("long")
    rel = (raw.select(F.col("offset"), consumer.alias("consumer"))
           .groupBy("consumer")
           .agg(F.countDistinct(F.floor(F.col("offset") / 100))
                .alias("n_segments"),
                F.count(F.lit(1)).alias("n_records"),
                F.sum("offset").alias("sum_offsets"),
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"))
           .orderBy("consumer"))
    # The metadata assignment and the column-side mapping agree ONLY if
    # every 100-wide event_id range actually produced a segment whose
    # trailer lo sits exactly at k*100 (rank ≡ lo//100) — assert THAT
    # from the trailers, not a recomputation of assign_segments' own
    # rule against itself (ADVICE r11: the old check compared the
    # function to itself and was true by construction).
    raw = [segment_stats(os.path.join(store, f)) for f in assignment]
    if any(r is None for r in raw):
        # check BEFORE sorting (review r13: sorted() over a None raised
        # TypeError and masked this diagnostic)
        raise AssertionError(
            "fixed-width store drifted: unreadable segment trailer(s) "
            f"in {sorted(assignment)} — stats: {raw}")
    ranges = sorted(raw)
    bad = [(k, r) for k, r in enumerate(ranges)
           if r[0] != k * 100 or r[1] > k * 100 + 99]
    if len(ranges) != 9 or bad:
        raise AssertionError(
            "fixed-width store drifted: expected 9 segments with "
            f"lo=k*100, hi<=k*100+99; got {ranges} (bad: {bad}) — the "
            "column-side floor(offset/100)%3 mapping no longer matches "
            "the metadata assignment")
    return rel


@query(
    "q_stream_consumer_groups",
    oracle="""
WITH base AS (SELECT event_id FROM events WHERE event_id < 900),
     t AS (SELECT MAX(event_id) AS tail FROM base),
     a AS (SELECT MAX(event_id) AS c FROM base),
     b AS (SELECT MAX(event_id) AS c
           FROM (SELECT event_id FROM base ORDER BY event_id LIMIT 400))
SELECT * FROM (
  SELECT 'alpha' AS grp, a.c AS committed_offset, t.tail AS tail_offset,
         t.tail - a.c AS lag_offsets,
         (SELECT COUNT(*) FROM base WHERE event_id > a.c) AS lag_records
  FROM a, t
  UNION ALL
  SELECT 'bravo', b.c, t.tail, t.tail - b.c,
         (SELECT COUNT(*) FROM base WHERE event_id > b.c)
  FROM b, t
  UNION ALL
  SELECT 'charlie', CAST(-1 AS BIGINT), t.tail,
         t.tail + 1, (SELECT COUNT(*) FROM base)
  FROM t
) ORDER BY grp
""",
)
def q_stream_consumer_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named consumer groups with durable cursors + lag accounting —
    the last lstore message-queue parity surface (VERDICT r10 #3,
    [UNVERIFIED: pub]).  Three consumers tail one segment store:
    'alpha' drains everything in one poll and commits the tail;
    'bravo' takes two bounded polls of 200 records (committing after
    each — its cursor lands on the 400th-smallest offset); 'charlie'
    is registered but never polls.  The returned relation is the
    broker's lag report, and the oracle recomputes every cursor and
    lag from the raw events — proving poll boundaries, monotone
    commits, and the shared-scan lag aggregation all agree with the
    declarative definition."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 900)
          .select("event_id", "ts", "user_id", "event_type"))
    store = fresh_scratch_dir("congrp", sf_dir)
    shaped = (events_as_segment_rows(ev)
              .repartitionByRange(4, "offset")
              .sortWithinPartitions("offset"))
    write_segments(shaped, store)

    for g in ("alpha", "bravo", "charlie"):
        ensure_group(store, g)
    # alpha: one unbounded poll, commit the batch's max offset (the
    # 1-value agg collect is the consumer's own ack — k-bounded).  An
    # empty slice polls None — commit nothing, like bravo's loop
    # (review r11: an unguarded None commit would crash the key where
    # the oracle returns a well-formed zero-progress relation).
    hi = poll(spark, store, "alpha").agg(F.max("offset")).first()[0]
    if hi is not None:
        commit_offset(store, "alpha", hi)
    # bravo: two bounded polls, commit after each — at-least-once
    # consumption in max-poll-records batches.
    for _ in range(2):
        got = (poll(spark, store, "bravo", max_records=200)
               .agg(F.max("offset")).first()[0])
        if got is not None:
            commit_offset(store, "bravo", got)
    return lag_report(spark, store)


@query(
    "q_stream_consumer_rebalance",
    oracle="""
WITH unconsumed AS (
  SELECT event_id,
         CAST(floor(event_id / 100) AS BIGINT) % 2 AS consumer
  FROM events
  WHERE event_id < 900 AND event_id > 99
)
SELECT consumer,
       COUNT(DISTINCT CAST(floor(event_id / 100) AS BIGINT)) AS n_segments,
       COUNT(*) AS n_records,
       CAST(SUM(event_id) AS BIGINT) AS sum_offsets,
       MIN(event_id) AS min_offset,
       MAX(event_id) AS max_offset
FROM unconsumed GROUP BY consumer ORDER BY consumer
""",
)
def q_stream_consumer_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-group REBALANCE with fencing (VERDICT r11 #3): a group
    starts at generation 1 with 3 instances over the fixed-width
    9-segment store; instance 0 consumes and per-segment-commits its
    first segment (b0 → offset 99); then an instance dies and
    ``rebalance`` publishes generation 2 over 2 instances.  The
    relation is built from the ACTUAL generation-2 polls (one
    per-instance read of its assigned slice, tagged and unioned), so
    the hash check proves the post-rebalance slices are disjoint,
    exhaustive over the UNCONSUMED records (b0's per-segment cursor
    survives the rebalance — offsets 0-99 are not redelivered), and
    aligned with the declarative floor(offset/100) %% 2 mapping the
    DuckDB oracle recomputes from raw events.

    Fencing is asserted in-code (fail-loudly, like the assignment
    key's trailer invariant): after generation 2 is published, a
    commit OR poll still carrying generation 1 must raise — the dead
    instance's zombie cannot corrupt the new owners' progress — and a
    commit for a segment the new generation assigns to someone else
    must also raise.  Scale: rebalance is one atomic metadata publish
    (O(#segments) trailer seeks, no data scan); per-segment cursors
    keep commit traffic O(#segments-touched), never O(records)."""
    store = _fixed_width_store(spark, sf_dir, "congrp_rebal")
    grp = "workers"

    gen1, asg1 = rebalance(store, grp, 3)
    # instance 0 (gen 1) drains its first segment and commits it —
    # per-segment, so instances 1/2's unconsumed offsets are untouched
    first_seg = sorted(s for s, c in asg1.items() if c == 0)[0]
    hi = (poll_assigned(spark, store, grp, 0, generation=gen1)
          .filter(F.col("offset") < 100).agg(F.max("offset")).first()[0])
    if hi is None:
        # guard like q_stream_consumer_groups (review r11 there, r13
        # here): an empty [0,100) slice means the fixed-width store
        # invariant broke — say so instead of int(None)'s TypeError
        raise AssertionError(
            f"{first_seg}'s [0,100) range polled empty — the "
            "fixed-width store invariant does not hold on this fixture")
    commit_assigned(store, grp, 0, gen1, {first_seg: int(hi)})

    gen2, asg2 = rebalance(store, grp, 2)
    # fencing: the zombie generation-1 instance can neither commit nor
    # poll once generation 2 exists
    for attempt, kwargs in (
            ("commit", dict(fn=lambda: commit_assigned(
                store, grp, 1, gen1, {sorted(asg1)[1]: 199}))),
            ("poll", dict(fn=lambda: poll_assigned(
                spark, store, grp, 1, generation=gen1)))):
        try:
            kwargs["fn"]()
        except ValueError:
            pass
        else:
            raise AssertionError(
                f"stale-generation {attempt} was not fenced")
    # cross-ownership: under gen 2 consumer 1 does not own b0's rank-0
    # slot (rank 0 % 2 == 0), so committing it must raise
    try:
        commit_assigned(store, grp, 1, gen2, {first_seg: 99})
    except ValueError:
        pass
    else:
        raise AssertionError("cross-ownership commit was not fenced")

    polls = [poll_assigned(spark, store, grp, i, generation=gen2)
             .select("offset")
             .withColumn("consumer", F.lit(i).cast("bigint"))
             for i in range(2)]
    tagged = polls[0].unionByName(polls[1])
    return (tagged.groupBy("consumer")
            .agg(F.countDistinct(F.floor(F.col("offset") / 100))
                 .alias("n_segments"),
                 F.count(F.lit(1)).alias("n_records"),
                 F.sum("offset").alias("sum_offsets"),
                 F.min("offset").alias("min_offset"),
                 F.max("offset").alias("max_offset"))
            .orderBy("consumer"))
