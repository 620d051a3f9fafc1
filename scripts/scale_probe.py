"""Standardized scale-evidence ledger (r14; VERDICT r13 #1, #7, #10).

The sf0.1 driver bench is fixed-overhead-bound (every 8-vs-32-core
ratio in PERF_r13 sits at 0.95-1.43), so shuffle-structure work is
nearly invisible in it.  This script is the re-runnable evidence for
the 100 TB claims: it times the heaviest keys at the 100x/1000x
key-shifted fixtures (scripts/make_sfbig.py), runs each ROUTED key in
both its bucketed-layout and plain-parquet fallback forms, records the
bucket-layout BUILD cost (wall seconds + bytes — the one-time
OPTIMIZE-style rewrite was previously free-by-omission, VERDICT #7),
captures every timed form's plan (plans/r14/scale/) with its exchange
count, and emits ONE JSON line with host-noise evidence (calibration
probes, steal delta) alongside.

Fixtures (built once):
  SFBIG_DIR=/tmp/sf100x  SFBIG_REPLICAS=100  python scripts/make_sfbig.py
  SFBIG_DIR=/tmp/sf1000x SFBIG_REPLICAS=1000 python scripts/make_sfbig.py

Usage:
  python scripts/scale_probe.py [key-substring ...]   # default: all
Env: SF100X_DIR, SF1000X_DIR, SCALE_PROBE_REPS (default per-key table),
SPARK_GRAFT_DRIVER_MEM (defaulted to 48g here — the 600M-row joins need
it in local mode).

Methodology: noop sink (guide §1.4), one shared session, the repo's
standard scale-parameterised confs (AQE on, shuffle partitions NOT
retuned per scale), one discarded warm-up, arms of the same key
interleaved so ambient drift hits both equally.  Fallback arms point
LSTORE_SPARK_SCRATCH_ROOT at an empty dir for the duration of the arm
(layout markers invisible -> routed_tables falls back to plain
parquet); the no-broadcast arms additionally disable the broadcast
threshold — VERDICT #10's check that a broadcast-shaped routed key's
fallback join really is the co-located zero-exchange merge.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from bench import (calibration_probe, host_snapshot,  # noqa: E402
                   parallel_calibration_probe, _steal_jiffies)
from lstore_spark import catalog  # noqa: E402
from lstore_spark.registry import QUERIES, load_all, release_pins  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

DIR_100X = os.environ.get("SF100X_DIR", "/tmp/sf100x")
DIR_1000X = os.environ.get("SF1000X_DIR", "/tmp/sf1000x")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r14", "scale")

# (key, fixture, arms, reps).  Arms: "routed" (layouts present),
# "plain" (scratch root hidden), "routed_nb"/"plain_nb" (same + auto-
# broadcast off).  Non-routed keys run one "std" arm.
PROBES: list[tuple[str, str, tuple[str, ...], int]] = [
    # Routed order-grain joins: the r13 headline claim, re-certified.
    ("q_join_sort_merge", DIR_1000X, ("routed", "plain"), 3),
    ("q_tpch_q3_shipping", DIR_1000X, ("routed", "plain"), 3),
    ("q_tpch_q7_volume", DIR_1000X, ("routed", "plain"), 3),
    # Routed cust-grain rollup.
    ("q_tpch_q13_custdist", DIR_1000X, ("routed", "plain"), 3),
    # Remaining routed-family keys (second wave, after q7 read slower
    # routed than plain locally): decide each with data.
    ("q_tpch_q8_market_share", DIR_1000X, ("routed", "plain"), 3),
    ("q_tpch_q22_idle_rich", DIR_1000X, ("routed", "plain"), 3),
    ("q_join_exists_flag", DIR_1000X, ("routed", "plain"), 3),
    ("q_tpch_q5_local_supplier", DIR_1000X, ("routed", "plain"), 3),
    ("q_tpch_q10_returns", DIR_1000X, ("routed", "plain"), 3),
    # VERDICT #10: broadcast-shaped routed key — with the broadcast
    # gate off, routed must compile to the co-located merge and beat
    # the shuffled fallback.
    ("q_join_left_semi", DIR_1000X, ("routed_nb", "plain_nb"), 3),
    # Heaviest non-routed shapes.
    ("q_agg_groupby_hash", DIR_1000X, ("std",), 3),
    ("q_sort_multi_key", DIR_1000X, ("std",), 2),
    ("q_llm_dedup_semantic", DIR_100X, ("std",), 2),
    ("q_llm_dedup_minhash", DIR_100X, ("std",), 2),
    ("q_llm_dedup_substring", DIR_100X, ("std",), 2),
    ("q_win_time_range", DIR_100X, ("std",), 2),
    # r14 session 2: the token-family keys the row-count spread/HOF work
    # moved (scripts/ab_repart_r14.json, spread_sweep_r14.json) — on
    # the ledger so the next round's claims compare against re-runnable
    # numbers, not one-off probes.
    ("q_llm_text_fingerprint", DIR_100X, ("std",), 2),
    ("q_llm_text_repetition", DIR_100X, ("std",), 2),
    ("q_llm_dedup_simhash", DIR_100X, ("std",), 2),
    ("q_llm_text_perplexity", DIR_100X, ("std",), 2),
    ("q_llm_text_lm_score", DIR_100X, ("std",), 2),
    ("q_llm_text_ngrams", DIR_100X, ("std",), 2),
    ("q_llm_text_tokenize_tf", DIR_100X, ("std",), 2),
    ("q_llm_text_redact", DIR_100X, ("std",), 2),
    ("q_llm_text_tfidf", DIR_100X, ("std",), 2),
]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def ensure_layouts(spark, sf_dir: str) -> dict:
    """Build (or confirm) every bucket-layout family on this fixture;
    record per-family build wall seconds, bytes on disk, bucket count,
    and whether a prior artifact was reused (VERDICT #7: the one-time
    rewrite's cost must appear somewhere measured)."""
    out = {}
    fp = catalog.fixture_fingerprint(sf_dir)
    for fam, cfg in catalog.BUCKET_FAMILIES.items():
        reused = all(
            catalog.scratch_dir(f"{cfg['tag']}_{t}", sf_dir, key=fp)[1]
            for t in cfg["keys"])
        t0 = time.perf_counter()
        dirs = catalog.build_bucket_layout(spark, sf_dir, family=fam)
        build_s = round(time.perf_counter() - t0, 3)
        out[fam] = {
            "reused": reused,
            "build_sec": 0.0 if reused else build_s,
            "n_buckets": catalog.bucket_layout_n(sf_dir, family=fam),
            "bytes": {t: dir_bytes(d) for t, d in dirs.items()},
        }
    return out


class arm_env:
    """Context: hide the scratch root (plain arms) and/or disable the
    broadcast threshold (nb arms) for the duration of one arm."""

    def __init__(self, spark, arm: str, hide_root: str):
        self.spark, self.arm, self.hide_root = spark, arm, hide_root

    def __enter__(self):
        if self.arm.startswith("plain"):
            self._old_root = os.environ.get("LSTORE_SPARK_SCRATCH_ROOT")
            os.environ["LSTORE_SPARK_SCRATCH_ROOT"] = self.hide_root
        if self.arm.endswith("_nb"):
            self._old_thr = self.spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold")
            self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        if self.arm.startswith("plain"):
            if self._old_root is None:
                os.environ.pop("LSTORE_SPARK_SCRATCH_ROOT", None)
            else:
                os.environ["LSTORE_SPARK_SCRATCH_ROOT"] = self._old_root
        if self.arm.endswith("_nb"):
            self.spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", self._old_thr)
        return False


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def plan_stats(text: str) -> dict:
    import re
    return {
        # formatted-explain detail headers: one "(n) Operator" per node
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", text)),
        "broadcast_exchanges": len(
            re.findall(r"\(\d+\) BroadcastExchange\b", text)),
        "sorts": len(re.findall(r"\(\d+\) Sort\b", text)),
        "bucket_scans": text.count("lstore_bkt"),
    }


def main() -> None:
    filters = sys.argv[1:]
    load_all()
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = get_spark("scale-probe-r14")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(x):
        import numpy as np  # noqa: F401
        return x

    spark.range(32).repartition(32).select(_warm("id")) \
         .write.mode("overwrite").format("noop").save()

    probes = [p for p in PROBES
              if not filters or any(f in p[0] for f in filters)]
    fixtures = sorted({p[1] for p in probes})
    layouts = {}
    for fx in fixtures:
        if any(a.startswith("routed") for p in probes if p[1] == fx
               for a in p[2]):
            layouts[fx] = ensure_layouts(spark, fx)
            print(f"# layouts {fx}: {layouts[fx]}", file=sys.stderr)

    import tempfile
    hide_root = tempfile.mkdtemp(prefix="lstore_probe_empty_")

    calib0, pcal0, steal0 = (calibration_probe(),
                             parallel_calibration_probe(), _steal_jiffies())
    results: dict[str, dict] = {}
    default_reps = os.environ.get("SCALE_PROBE_REPS")
    for key, fx, arms, reps in probes:
        reps = int(default_reps) if default_reps else reps
        fx_tag = os.path.basename(fx.rstrip("/"))
        entry = results.setdefault(key, {"fixture": fx_tag})
        times: dict[str, list[float]] = {a: [] for a in arms}
        for a in arms:
            with arm_env(spark, a, hide_root):
                df = QUERIES[key](spark, fx)
                txt = plan_text(df)
                entry[f"plan_{a}"] = plan_stats(txt)
                fn = os.path.join(PLANS_DIR, f"{key}_{a}_{fx_tag}.txt")
                with open(fn, "w") as fh:
                    fh.write(f"# {key} [{a}] at {fx}\n{txt}")
            release_pins()
        for i in range(reps):
            for a in arms:
                with arm_env(spark, a, hide_root):
                    spark.sparkContext.setJobDescription(
                        f"scale:{key}:{a}:{i}")
                    t0 = time.perf_counter()
                    QUERIES[key](spark, fx) \
                        .write.mode("overwrite").format("noop").save()
                    times[a].append(round(time.perf_counter() - t0, 2))
                release_pins()
        for a in arms:
            entry[a] = {"runs_sec": times[a],
                        "median": round(statistics.median(times[a]), 2),
                        "min": min(times[a])}
        print(f"# {key}: " + " ".join(
            f"{a}={entry[a]['runs_sec']}" for a in arms), file=sys.stderr)
    out = {
        "fixtures": {os.path.basename(f.rstrip('/')): f for f in fixtures},
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "layout_build": {os.path.basename(k.rstrip('/')): v
                         for k, v in layouts.items()},
        "keys": results,
        "host": host_snapshot(),
        "calibration_sec": {"before": calib0, "after": calibration_probe()},
        "parallel_calibration_sec": {"before": pcal0,
                                     "after": parallel_calibration_probe()},
        "steal_jiffies_delta": (_steal_jiffies() - steal0
                                if steal0 is not None else None),
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
