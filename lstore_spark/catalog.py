"""Table catalog: declared schemas + loaders for the test corpus.

The reference's data model is a positional (int64 | blob) row log
(SURVEY.md §1.1); this engine upgrades it to named, typed Spark columns.
Schemas are *declared*, never inferred, so the DuckDB-oracle schema
comparison is stable (SURVEY.md §1.3).

``events.ts`` encoding varies across testdata generations: round 1-2 data
stored INT64 TIMESTAMP(NANOS,false) (which Spark 4 cannot read natively —
``spark.sql.legacy.parquet.nanosAsLong`` reads it as a raw nanosecond
long, and the loader derives ``ts = timestamp_micros(ts div 1000)``,
matching DuckDB's truncate-to-micros read), while round 3+ data stores
TIMESTAMP(MICROS,false), which both engines read natively.  The loader
sniffs the parquet footer (one driver-side metadata read, cached per
path) and picks the matching read path, so either encoding yields the
same logical view: ``ts`` as TIMESTAMP_NTZ at microsecond precision.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .session import tune

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# Physical (as-stored) schemas; FIXTURES.md, verified with pyarrow.
SCHEMAS: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _st(("n_nationkey", IntegerType()), ("n_name", StringType()),
                  ("n_regionkey", IntegerType())),
    "supplier": _st(("s_suppkey", LongType()), ("s_name", StringType()),
                    ("s_nationkey", IntegerType()), ("s_acctbal", DoubleType())),
    "customer": _st(("c_custkey", LongType()), ("c_name", StringType()),
                    ("c_nationkey", IntegerType()), ("c_acctbal", DoubleType()),
                    ("c_mktsegment", StringType())),
    "part": _st(("p_partkey", LongType()), ("p_name", StringType()),
                ("p_brand", StringType()), ("p_type", StringType()),
                ("p_size", IntegerType()), ("p_retailprice", DoubleType())),
    "orders": _st(("o_orderkey", LongType()), ("o_custkey", LongType()),
                  ("o_orderstatus", StringType()), ("o_totalprice", DoubleType()),
                  ("o_orderdate", TimestampNTZType()), ("o_orderpriority", StringType())),
    "lineitem": _st(("l_orderkey", LongType()), ("l_partkey", LongType()),
                    ("l_suppkey", LongType()), ("l_linenumber", IntegerType()),
                    ("l_quantity", DoubleType()), ("l_extendedprice", DoubleType()),
                    ("l_discount", DoubleType()), ("l_tax", DoubleType()),
                    ("l_returnflag", StringType()), ("l_linestatus", StringType()),
                    ("l_shipdate", TimestampNTZType())),
    # ts read as raw nanos (legacy.parquet.nanosAsLong), converted in load().
    # Only used when the footer says NANOS; MICROS files use EVENTS_LOGICAL.
    "events": _st(("event_id", LongType()), ("ts", LongType()),
                  ("user_id", LongType()), ("event_type", StringType()),
                  ("value", DoubleType()), ("props", StringType())),
    "documents": _st(("doc_id", LongType()), ("text", StringType()),
                     ("lang", StringType()), ("source", StringType()),
                     ("n_chars", LongType())),
    "embeddings": _st(("vec_id", LongType()), ("embedding", ArrayType(FloatType())),
                      ("label", IntegerType())),
}

EMBEDDING_DIM = 64


def default_sf_dir() -> str:
    """The harness-wide default grade fixture — ONE definition, IN THE
    PACKAGE (review r13: it lived in tests/oracle_check.py, which
    package code cannot import, so llm/bpe.py re-derived the env read
    and a moved default could silently point the lazy BPE oracle at
    different data than the harness's DuckDB views).  tests, scripts
    and __main__ all import this."""
    import os

    return os.environ.get("LSTORE_SPARK_TEST_SF", "/root/testdata/sf0.01")

# Logical view of events (ts already a microsecond TIMESTAMP_NTZ) — the
# schema every operator sees, and the direct read schema for MICROS files.
EVENTS_LOGICAL = _st(
    ("event_id", LongType()), ("ts", TimestampNTZType()),
    ("user_id", LongType()), ("event_type", StringType()),
    ("value", DoubleType()), ("props", StringType()),
)


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def scratch_dir(tag: str, sf_dir: str,
                key: str | None = None) -> tuple[str, bool]:
    """Deterministic per-fixture scratch dir for derived artifacts
    (layout rewrites, ANN indexes): ``/tmp/lstore_spark_<tag>_<hash>``
    keyed on the fixture path.  Returns (path, already_built) where
    ``already_built`` is True only when a prior write committed a
    ``_SUCCESS`` marker at the DIR ROOT (crashed half-writes rebuild).
    Multi-table artifacts (the ANN indexes) write no root marker —
    their builders ignore the flag and gate on their own subdir
    markers (e.g. ``postings/_SUCCESS``); callers must pick ONE of the
    two conventions per tag and not mix them.  ``tag`` MUST
    carry a format version (e.g. ``dpp1``, ``annidx3``) — bump it when
    the producing code changes so stale artifacts can never be served
    (review r8: an untagged cache would keep passing against an old
    layout after a code change, silently un-exercising the write
    path).  The key also folds in a (name, size, mtime) fingerprint of
    the fixture's parquet entries, so a REGENERATED fixture at the same
    path gets a fresh scratch dir instead of being served artifacts
    derived from the old data (second r8 review finding — previously
    this relied on the round-boundary /tmp wipe); unchanged fixtures
    keep their key, so cross-session artifact reuse still works."""
    import tempfile

    # Env-overridable root (ADVICE r8): pytest points this at its own
    # managed tmp so test runs against tmp_path fixtures stop leaving
    # never-reused scratch dirs behind; default stays /tmp so
    # cross-session artifact reuse for the real fixtures still works.
    root = os.environ.get("LSTORE_SPARK_SCRATCH_ROOT", tempfile.gettempdir())
    # callers that already computed the fingerprint pass it in (review
    # r11: the hot routing path stat-scanned the fixture dir twice)
    key = key or fixture_fingerprint(sf_dir)
    out = os.path.join(root, f"lstore_spark_{tag}_{key}")
    return out, os.path.exists(os.path.join(out, "_SUCCESS"))


def build_tmp_dir(final: str) -> str:
    """PID-suffixed staging path for a directory artifact that will be
    published with ``publish_dir`` — build the whole artifact here,
    then rename.  Cleans any leftover staging dir from a crashed prior
    run of this same PID slot, and reaps OTHER slots whose owner is
    dead (review r12: '.build_p<pid>' matches no reaper pattern — the
    '_p' adjacency the fresh_scratch_dir regex requires is broken by
    '.build' — so a killed build leaked its fixture-sized staging dir
    forever; same dead-or-recycled-PID rule as every other reaper)."""
    import glob
    import re
    import shutil

    for stale in glob.glob(f"{glob.escape(final)}.build_p*"):
        m = re.search(r"\.build_p(\d+)$", stale)
        if m and _reapable(stale, int(m.group(1))):
            shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{final}.build_p{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def publish_dir(tmp: str, final: str) -> None:
    """Atomically publish a fully-built directory artifact: one rename
    from the staging path to the shared final path.  If another process
    won the race (``final`` appeared between our existence check and
    the rename), discard our staging copy and use the winner's — under
    this protocol a directory only ever EXISTS at its final path
    complete, so the loser never reads a torn artifact.  This replaces
    writing Spark jobs directly into the shared final dir, where two
    concurrent sessions (pytest while bench runs — the scenario
    ``fresh_scratch_dir``'s PID suffix exists for) would interleave
    ``mode("overwrite")`` deletes with each other's live writes
    (review r10).  Same commit idea as ``pq_codebook``'s single-file
    tmp+``os.replace``, lifted to multi-file artifacts.

    A failed rename only means 'lost the race' when the winner's
    artifact actually EXISTS at ``final`` — any other OSError (EXDEV
    staging on a different filesystem, permissions, missing parent)
    must re-raise, not silently discard the only copy and leave callers
    to fail later with an unrelated missing-path error (ADVICE r10)."""
    import shutil

    try:
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def clear_incomplete_dir(final: str, marker: str = "_SUCCESS") -> None:
    """Remove a shared artifact dir ONLY if it exists without its
    completion marker — crashed half-write debris from the pre-r10
    in-place protocol.  Never removes a marker-complete artifact: a
    concurrent session may have published one between the caller's
    gate check and this call, and deleting it would yank files out
    from under the winner's lazily-evaluated readers (review r10
    follow-up to publish_dir — the build branch must not hold an
    unconditional rmtree)."""
    import shutil

    if (os.path.isdir(final)
            and not os.path.exists(os.path.join(final, marker))):
        shutil.rmtree(final, ignore_errors=True)


def fixture_fingerprint(sf_dir: str) -> str:
    """10-hex content fingerprint of a fixture dir: path + (name, size,
    mtime) of every parquet entry, recursing one level into
    directory-style tables.  The cache key for anything derived from
    the fixture's DATA (scratch artifacts, the BPE merge table) — a
    regenerated fixture at the same path changes the fingerprint."""
    import hashlib

    key_src = os.path.abspath(sf_dir)
    try:
        sig = []
        with os.scandir(sf_dir) as entries:
            for e in entries:
                if not e.name.endswith(".parquet"):
                    continue
                if e.is_dir():
                    # Directory-style table (Spark-written fixtures):
                    # rewriting a contained part-file in place can leave
                    # the directory's own size/mtime unchanged, so
                    # fingerprint the contained files instead (ADVICE
                    # r8 — one level is enough: parquet part-files live
                    # directly under the table dir).
                    try:
                        with os.scandir(e.path) as parts:
                            inner = tuple(sorted(
                                (p.name, p.stat().st_size,
                                 p.stat().st_mtime_ns)
                                for p in parts if p.is_file()))
                    except OSError:
                        inner = ()
                    sig.append((e.name, inner))
                else:
                    st = e.stat()
                    sig.append((e.name, st.st_size, st.st_mtime_ns))
        key_src += repr(sorted(sig, key=lambda t: t[0]))
    except OSError:
        pass  # fixture dir missing: fall back to the path-only key
    return hashlib.md5(key_src.encode()).hexdigest()[:10]


def fresh_scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(tag, fixture) scratch dir, WIPED on every
    call — for sink/round-trip/segment-store keys whose WRITE is the
    exercised path (reuse would skip it).  Replaces the per-invocation
    ``tempfile.mkdtemp`` those keys used: the ADVICE-r7 leak class —
    every sweep/bench/test invocation minted a fresh fixture-sized
    directory that nothing ever removed (measured: ~1,500 dirs after a
    round of sweeps, the binaryFile media copies at ~200 MB each).
    One live copy per (key, fixture, process) bounds the steady-state
    /tmp footprint.  The dir name folds in the PID (ADVICE r8): two
    sessions on the same machine/fixture (pytest while bench runs) get
    disjoint dirs, so one session's wipe can never yank files out from
    under the other's read; dirs left by processes that no longer exist
    are reaped opportunistically, keeping the bounded-footprint goal."""
    import re
    import shutil

    base, _ = scratch_dir(tag, sf_dir)
    out = f"{base}_p{os.getpid()}"
    # Reap dead-PID dirs across EVERY fingerprint of this tag, not just
    # the current one: fixture regeneration changes the fingerprint in
    # the dir name, and fingerprint-scoped reaping would let old-
    # fingerprint dirs accumulate forever (review r10 — the same
    # unbounded-footprint class ADVICE r7 fixed, via fingerprint churn).
    pat = re.compile(
        rf"^lstore_spark_{re.escape(tag)}_[0-9a-f]{{10}}_p(\d+)$")
    parent = os.path.dirname(base)
    try:
        for name in os.listdir(parent):
            m = pat.match(name)
            stale = os.path.join(parent, name)
            if m and stale != out and _reapable(stale, int(m.group(1))):
                shutil.rmtree(stale, ignore_errors=True)
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    return out


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OverflowError:
        # an absurd PID suffix (crafted/junk dir in world-writable
        # /tmp): no such process can exist, and OverflowError is NOT an
        # OSError — unhandled it escaped the reaper loop and killed the
        # calling query until the dir was hand-deleted (review r12)
        return False
    return True


# PID-reuse disambiguation for the PID-keyed reapers (ADVICE r10): an
# unrelated live process holding a dead session's recycled number would
# make its dirs unreapable on liveness alone.  /proc start-time settles
# it exactly: the dir's true owner started BEFORE ever writing the dir,
# so a live PID whose process started AFTER the dir's last write cannot
# be the owner — it is a recycle, and the dir is debris.  (A blunt
# mtime-age backstop was rejected in review r11: it would let a newly
# started process delete a live multi-day session's quiescent dirs.)
# Where /proc is unavailable a LIVE pid is never reapable (liveness
# only, the pre-r11 behavior) — an age heuristic there would reintroduce
# exactly the rejected false positive for quiescent live sessions
# (ADVICE r11); the cost is merely that recycled-PID debris persists
# until its squatter exits on those platforms.
_REAP_START_SLACK = 300  # clock/jiffy rounding headroom


def _pid_start_epoch(pid: int) -> float | None:
    """Process start time as a unix epoch (Linux /proc), else None."""
    try:
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh
                         if line.startswith("btime "))
        with open(f"/proc/{pid}/stat") as fh:
            # field 22 = starttime in clock ticks since boot; fields
            # split after the parenthesized comm (which may hold spaces)
            after_comm = fh.read().rsplit(")", 1)[1].split()
        ticks = int(after_comm[19])  # field 22 overall = index 19 here
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, IndexError, ValueError):
        return None


def _reapable(path: str, pid: int) -> bool:
    """A PID-suffixed scratch/warehouse dir is reapable when its owner
    is dead, or when the live process holding that PID started after
    the dir's last write (PID recycle — not the owner)."""
    if not _pid_alive(pid):
        return True
    try:
        mtime = os.stat(path).st_mtime
    except OSError:
        return False  # vanished mid-check: nothing to reap
    start = _pid_start_epoch(pid)
    if start is not None:
        return start > mtime + _REAP_START_SLACK
    return False  # no /proc: a live PID is never reapable


def _path_sig(path: str):
    """Cheap stat signature of one table file (or directory-style
    table): changes when the fixture is regenerated in place.  Folded
    into every path-keyed metadata cache below so a regenerated fixture
    can never be served a stale row count / ts unit / file-index — the
    per-table grain of the same invalidation discipline
    ``fixture_fingerprint`` applies to whole-dir scratch keys (review
    r10: the caches predated the fingerprint and missed it)."""
    try:
        if os.path.isdir(path):
            with os.scandir(path) as parts:
                # subdir NAMES participate too (review r12): a layout
                # change that only adds a partition directory must
                # invalidate — file-only signatures served the old
                # cached answer for the new layout
                return tuple(sorted(
                    (p.name, p.stat().st_size, p.stat().st_mtime_ns)
                    if p.is_file() else (p.name, -1, -1)
                    for p in parts))
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return None


# Metadata caches are keyed by path, holding only the LATEST (stat
# signature, value) pair per path: in-place fixture regeneration then
# REPLACES the entry instead of accumulating one per signature — the
# old scheme leaked every superseded signature's entry (including cached
# DataFrame plans holding eager file indexes) for the session's lifetime
# (ADVICE r10).
_ROWS_CACHE: dict[str, tuple] = {}


def _sig_cached(cache: dict, key, sig, build):
    """latest-signature-wins memo: one live entry per key."""
    hit = cache.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    val = build()
    cache[key] = (sig, val)
    return val


def table_rows(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet footer metadata — a driver-side
    catalog read, no Spark job.  Replaces the ``df.count()`` pre-scans
    that sized LSH parameters (VERDICT r2 item 7): at 100 TB a sizing
    count must come from table statistics, not a full extra scan.
    Handles directory-style tables (Spark-written part-files) by
    summing part footers — the layout ``fixture_fingerprint`` already
    supports (review r10: this path used to raise on directories).
    A directory table that is NESTED (hive-partitioned) or holds zero
    part files raises instead of answering 0: a silent 0 would make
    ``fits_broadcast`` unconditionally true and force broadcasts of
    arbitrarily large tables (ADVICE r10)."""
    path = path_of(sf_dir, name)

    def build() -> int:
        import pyarrow.parquet as pq
        if os.path.isdir(path):
            n = 0
            n_files = 0
            with os.scandir(path) as parts:
                for p in parts:
                    if p.is_dir():
                        if p.name.startswith(("_", ".")):
                            # metadata debris (_temporary from a
                            # crashed write, .ipynb_checkpoints...):
                            # Spark's own file index skips these, so a
                            # readable table must not crash the stats
                            # gate over them (review r12)
                            continue
                        raise ValueError(
                            f"table_rows({path}): nested/partitioned "
                            "layout — top-level footer summing would "
                            "undercount; stat the real layout instead")
                    if p.is_file() and p.name.endswith(".parquet"):
                        n += pq.ParquetFile(p.path).metadata.num_rows
                        n_files += 1
            if n_files == 0:
                raise ValueError(
                    f"table_rows({path}): directory holds no parquet "
                    "part files")
            return n
        return pq.ParquetFile(path).metadata.num_rows

    return _sig_cached(_ROWS_CACHE, path, _path_sig(path), build)


# Build-side row cap for stats-gated broadcast decisions.  The gated
# relations are narrow key projections (~25 B/row), so 20M rows ≈ a
# 500 MB build side — measured on local[32] to beat shuffling a 600M-row
# fact by 2–4× (BASELINE.md round-9 session IV/V), and the size a
# healthy 8–16 GB executor can hold; past it the shuffled join wins.
BROADCAST_ROW_CAP = 20_000_000


def fits_broadcast(sf_dir: str, table: str, row_factor: float = 1.0,
                   cap: int = BROADCAST_ROW_CAP) -> bool:
    """CBO-style broadcast decision from parquet footer stats (no
    pre-scan): does ``table``, scaled by ``row_factor``, fit the
    build-side row cap?  ``row_factor`` is the query's estimated
    build-side rows per base-table row — a filter selectivity in
    (0, 1] (e.g. a date window × a region cut), or a fan-out
    multiplier > 1 when the broadcast side is a DERIVED relation
    bigger than its base table (e.g. llm/dedup.py's exploded shingle
    set at ~18.8 rows per document).  Estimates in the same sense an
    optimizer's column histograms are, erring conservative; values > 1
    are deliberate and MUST NOT be clamped (ADVICE r10)."""
    return table_rows(sf_dir, table) * row_factor <= cap


# A CPU-bound per-row stage wants at least this many rows before a task
# is worth scheduling; with fewer rows per task than this the exchange
# costs more than the parallelism buys (measured: the sf0.1 corpus at
# 5k docs never spreads — bench plans unchanged — while 500k docs spread
# to 31 tasks).
SPREAD_ROWS_PER_TASK = 16_384


def spread_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` scan, repartitioned by ROW count ahead of a
    CPU-heavy per-row stage (guide §2: derive partitioning from input
    size, not from the scan's byte-based splits).  Parquet scans split
    by COMPRESSED bytes, and highly templated text compresses so hard
    that the compute-heavy projections downstream under-parallelize:
    the 100× fixture's documents.parquet is 4.5 MB on disk but ~200 MB
    of text → a 2-split scan on a 32-core host, so every interpreted-HOF
    token stage ran 2-wide (measured r14 session 2: fingerprint 41.6 →
    5.4 s, repetition 33.7 → 3.1 s, substring span-runs 66.5 → 7.8 s at
    the 100× fixture from this one change).  The target task count
    comes from footer ROW stats (no pre-scan): rows /
    ``SPREAD_ROWS_PER_TASK``, capped at 4× cluster parallelism; below 4
    tasks — every local-SF fixture — the bare scan comes back, so
    bench-scale plans are byte-identical.  Never REDUCES parallelism:
    if the scan already splits at least as wide, it passes through
    untouched.  The scan is loaded here, not passed in, because the
    footer count describes the whole table: a filtered or derived frame
    would be sized wrong."""
    df = load_table(spark, sf_dir, "documents")
    n = table_rows(sf_dir, "documents")
    target = min((n + SPREAD_ROWS_PER_TASK - 1) // SPREAD_ROWS_PER_TASK,
                 spark.sparkContext.defaultParallelism * 4)
    if target < 4:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# --- bucketed order-grain layout (VERDICT r10 #2) --------------------------
# The round-10 1000× spill audit left exactly two residual spill shapes:
# q_tpch_q18_large_orders' per-order rollup (257 s, 60+8 GB map+reduce
# spill at 32-wide) and q_agg_global's exact-distinct branch (43.8 s,
# ~65 GB map-side spill) — and measured that pre-bucketing lineitem and
# orders on orderkey erases both (10× faster, zero spill:
# scripts/bucket_q18_1000x.py, scripts/bucket_distinct_1000x.py).  This
# block promotes that measured lever into the DEFAULT plan: a one-time
# maintenance rewrite (``build_bucket_layout``) publishes bucketed+sorted
# parquet per table under a fixture-fingerprinted scratch artifact, and
# order-grain queries route onto it through ``bucketed_table`` when (and
# only when) a marker-complete layout exists — the same stats-gated
# fall-back discipline as ``fits_broadcast``.  Readers register the files
# as an EXTERNAL bucketed catalog table (Spark recovers bucket ids from
# the bucketed writer's file names), so a fresh plain session — the
# driver's — compiles the exchange-free plans with no carried state.

BUCKET_LAYOUT_TAG = "bktlay1"  # format version: bump when the write changes
BUCKET_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
# ~2.5M rows/bucket reproduces the measured 256-bucket layout at the
# 600M-row 1000× fixture; small fixtures floor at 8 buckets so the plan
# shape (bucketed scan, zero exchanges) is still exercised locally.
BUCKET_TARGET_ROWS = 2_500_000

# Layout FAMILIES (r13 breadth, VERDICT r12 #6): each is an independent
# one-time OPTIMIZE-style rewrite bucketing a join-co-located table pair
# on its shared grain.  "order" is the original fact⋈fact layout; "cust"
# serves the customer-grain joins/rollups (inner_hash, q13, q22,
# semi/anti) the same way.  Tags are per-family format versions; the
# registered-table prefix must differ per family because "orders"
# appears in both (same fp, different physical layout).
BUCKET_FAMILIES: dict[str, dict] = {
    "order": {"tag": BUCKET_LAYOUT_TAG, "keys": BUCKET_KEYS,
              "size_from": "lineitem", "tbl_prefix": "lstore_bkt"},
    "cust": {"tag": "bktcust1",
             "keys": {"orders": "o_custkey", "customer": "c_custkey"},
             "size_from": "orders", "tbl_prefix": "lstore_bktc"},
}


def bucket_layout_n(sf_dir: str, family: str = "order") -> int:
    """Bucket count for this fixture's layout, from footer stats.  All
    tables of a family share it (a co-located join needs equal bucket
    counts), sized off the family's larger side."""
    import math

    rows = table_rows(sf_dir, BUCKET_FAMILIES[family]["size_from"])
    return max(8, min(256, math.ceil(rows / BUCKET_TARGET_ROWS)))


def build_bucket_layout(spark: SparkSession, sf_dir: str,
                        tables: tuple | None = None,
                        n_buckets: int | None = None,
                        family: str = "order") -> dict[str, str]:
    """One-time maintenance rewrite: publish each table bucketed+sorted
    on its order key (one file per bucket — the ``repartition`` makes
    each writer task own exactly one bucket).  Atomic under the
    ``build_tmp_dir``/``publish_dir`` protocol; a marker-complete layout
    is never rebuilt.  Returns {table: layout_dir}.  At 100 TB this is
    the OPTIMIZE-style rewrite you run once so every order-grain rollup
    and fact⋈fact join thereafter compiles with zero exchanges."""
    import json

    fam = BUCKET_FAMILIES[family]
    if tables is None:
        tables = tuple(fam["keys"])
    n = n_buckets or bucket_layout_n(sf_dir, family)
    out: dict[str, str] = {}
    # ONE fingerprint for the whole multi-table build (review r12): a
    # per-iteration recompute both re-stat-scanned the fixture per
    # table and — if a concurrent regeneration landed between the
    # iterations — could publish the pair under DIFFERENT fingerprints,
    # after which bucketed_table (one fp) forever saw a half-complete
    # layout and silently fell back to the shuffled plan.
    fp = fixture_fingerprint(sf_dir)
    for t in tables:
        key = fam["keys"][t]
        final, done = scratch_dir(f"{fam['tag']}_{t}", sf_dir, key=fp)
        if not done:
            clear_incomplete_dir(final)
            tmp = build_tmp_dir(final)
            tbl = f"lstore_bktbuild_{family}_{t}_p{os.getpid()}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (load_table(spark, sf_dir, t)
             .repartition(n, key)
             .write.bucketBy(n, key).sortBy(key)
             .option("path", tmp).format("parquet").saveAsTable(tbl))
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # external: files stay
            with open(os.path.join(tmp, "_LAYOUT"), "w") as fh:
                json.dump({"n_buckets": n, "key": key}, fh)
            publish_dir(tmp, final)
        out[t] = final
    return out


def bucketed_table(spark: SparkSession, sf_dir: str, table: str,
                   fp: str | None = None,
                   family: str = "order") -> DataFrame | None:
    """The bucketed layout of ``table`` if a marker-complete artifact
    exists for the CURRENT fixture fingerprint, else None (callers fall
    back to the plain parquet plan).  Registration is an external
    CLUSTERED BY table over the published files — per-session catalog
    metadata only, no data movement.  ``fp``: callers that already hold
    the fixture fingerprint pass it in (review r13: routed_tables
    computed it once and this recomputed it per table — 1+N full
    fixture stat-scans per routed query, the same duplicated-scan cost
    scratch_dir's key= closed in r11)."""
    import json

    fam = BUCKET_FAMILIES[family]
    if fp is None:
        fp = fixture_fingerprint(sf_dir)
    final, done = scratch_dir(f"{fam['tag']}_{table}", sf_dir, key=fp)
    if not done:
        return None
    try:
        with open(os.path.join(final, "_LAYOUT")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    tune(spark)
    name = f"{fam['tbl_prefix']}_{table}_{fp}"
    if not spark.catalog.tableExists(name):
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in SCHEMAS[table].fields)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({meta['key']}) SORTED BY ({meta['key']}) "
            f"INTO {meta['n_buckets']} BUCKETS LOCATION '{final}'")
    return spark.table(name)


def routed_tables(spark: SparkSession, sf_dir: str,
                  *tables: str, family: str = "order") -> dict[str, DataFrame]:
    """All-or-nothing bucketed routing (review r13): every requested
    table's layout present for the current fingerprint → all bucketed;
    any missing → ALL plain parquet.  A half-available layout must
    never produce a mixed bucketed/plain join — that plan shape is
    pinned nowhere and silently reintroduces the orderkey exchange on
    one side while claiming the layout's zero-exchange contract.

    Availability is probed first via the publish markers (one
    fingerprint, one stat per table) so the fallback path never pays
    ``bucketed_table``'s session DDL for a layout half it won't use
    (review r13)."""
    tag = BUCKET_FAMILIES[family]["tag"]
    fp = fixture_fingerprint(sf_dir)
    ready = all(scratch_dir(f"{tag}_{t}", sf_dir, key=fp)[1]
                for t in tables)
    if ready:
        bkt = {t: bucketed_table(spark, sf_dir, t, fp=fp, family=family)
               for t in tables}
        if all(df is not None for df in bkt.values()):
            return bkt
        # a marker raced away / _LAYOUT unreadable between the probe
        # and the registration: all-or-nothing still holds
    return {t: load_table(spark, sf_dir, t) for t in tables}


_TS_UNIT_CACHE: dict[str, tuple] = {}


def events_ts_unit(path: str) -> str:
    """Physical unit of ``events.ts`` in this parquet file: 'ns' or 'us'.

    One driver-side footer read via pyarrow, cached per path with a stat
    signature (latest wins — see the cache block comment) — at cluster
    scale this is catalog metadata, not a data scan, and the signature
    invalidates on in-place regeneration.  Falls back to 'us' (the
    current generator encoding) if the footer can't be sniffed.
    """

    def build() -> str:
        try:
            import glob

            import pyarrow.parquet as pq
            target = path
            if os.path.isdir(path):
                # directory-style tables are first-class everywhere
                # else in this module; ParquetFile(dir) raises and the
                # blanket fallback mis-routed a NANOS directory table
                # down the µs read path (review r12) — sniff the first
                # part file's footer instead
                parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
                if not parts:
                    return "us"
                target = parts[0]
            pf = pq.ParquetFile(target)
            # physical INT96 (legacy Spark-written timestamps) reads
            # natively as a timestamp — pyarrow reports it as
            # timestamp[ns] too, but nanosAsLong does NOT apply to it,
            # so the 'ns' raw-long path would crash the scan (review
            # r12, found by the dir-style sniff extension)
            ps = pf.schema
            idx = next(i for i in range(len(ps.names))
                       if ps.column(i).name == "ts")
            if ps.column(idx).physical_type == "INT96":
                return "us"
            t = str(pf.schema_arrow.field("ts").type)
            return "ns" if "[ns]" in t else "us"
        except Exception:
            return "us"

    return _sig_cached(_TS_UNIT_CACHE, path, _path_sig(path), build)


# DataFrames are immutable logical plans, so caching them per
# (session, sf_dir, table) with a file-stat signature is safe and shaves
# the reader-construction + file-listing cost off every query in a sweep
# (the driver's CORRECTNESS sweep is overhead-dominated at sf0.01 —
# VERDICT r1 item 2).  The stat signature invalidates on in-place
# fixture regeneration: the cached plan carries an eager file index,
# so a signature-less key would serve stale file lists (review r10) —
# and latest-signature-wins eviction keeps regeneration churn from
# accumulating dead plans (ADVICE r10).  Session churn has its own
# eviction: entries are keyed by id(spark), and a process that stops
# and recreates sessions (notebook, repeated in-process runs) would
# otherwise pin every dead session's plans — and the dead session
# itself, via the DataFrame — forever.  Deadness = STOPPED (the
# context's _jsc is nulled by SparkContext.stop, verified on pyspark
# 4.1.2), not collected: the r11 weakref scheme could never fire
# because every cached DataFrame strongly references its session via
# DataFrame._session, so ref() never returned None and the purge was
# dead code — the exact leak it claimed to fix (review r12).
_TABLE_CACHE: dict[tuple, tuple] = {}
_SESSION_REFS: dict[int, object] = {}  # id(spark) -> weakref.ref


def _purge_dead_sessions() -> None:
    dead = []
    for sid, ref in _SESSION_REFS.items():
        s = ref()
        if s is None:
            dead.append(sid)
            continue
        try:
            if s.sparkContext._jsc is None:  # stopped session
                dead.append(sid)
        except Exception:  # torn-down internals — treat as dead
            dead.append(sid)
    for sid in dead:
        del _SESSION_REFS[sid]
        for key in [k for k in _TABLE_CACHE if k[0] == sid]:
            del _TABLE_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its declared schema (logical view).

    ``events`` comes back with ``ts`` as TIMESTAMP_NTZ at microsecond
    precision — exactly what DuckDB's view of the same parquet sees.
    """
    path = path_of(sf_dir, name)

    def build() -> DataFrame:
        tune(spark)
        if name == "events":
            if events_ts_unit(path) == "ns":
                return spark.read.schema(SCHEMAS[name]).parquet(path).withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000")).cast(TimestampNTZType()),
                )
            return spark.read.schema(EVENTS_LOGICAL).parquet(path)
        return spark.read.schema(SCHEMAS[name]).parquet(path)

    import weakref

    _purge_dead_sessions()
    _SESSION_REFS.setdefault(id(spark), weakref.ref(spark))
    return _sig_cached(_TABLE_CACHE, (id(spark), sf_dir.rstrip("/"), name),
                       _path_sig(path), build)


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> dict[str, DataFrame]:
    """Register temp views so operators can also be expressed via spark.sql."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs
