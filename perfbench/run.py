"""Run one benchmark workload and print its metrics as JSON.

Run from the root of a repository checkout:

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 20 --trace 0

Everything the run reads or writes stays in the checkout: inputs are
generated under ``.perfbench_work/`` (removed at exit), ``--seed``
choosing key orders, corpus slices and log batches, and a traced run
writes its spans to ``.perfbench_out/``.  The last
stdout line is the result, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics untraced, the per-layer metrics
with ``--trace 1``.  The line before it is the run's context: host shape,
noise verdict, the workload's own metric names, failures with output.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4

# Gated metrics.  Set-up and operation costs are CPU seconds of the whole
# process tree, less the JVM's JIT compiler threads (host.tree_cpu_s): on
# a shared host, steal inflates wall time by 15-30 % from run to run,
# more than any bound allows, while the CPU clock does not count it.
# Wall-clock set-up, latencies and throughput are in the context line,
# with the median CPU per operation: over 15 different keys, that
# median jumps from key to key, and spread by up to 0.33 over seeds.
END_TO_END = {
    "setup_s": "s", "op_cpu_geomean_s": "s", "items_per_cpu_s": "1/s",
    "disk_bytes_per_row": "B",
}
OP_FIELDS = {
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "sched_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "offcpu_s": "s",
    "core_busy_ratio": "ratio", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "input_bytes": "B",
    "gc_s": "s", "failed_tasks": "count",
}
OP_KINDS = ("query", "append", "poll")
PER_LAYER = {f"{k}.{f}": u for k in OP_KINDS for f, u in OP_FIELDS.items()}
PER_LAYER.update({
    "consumers.tail_offset_s": "s", "consumers.committed_offset_s": "s",
    "consumers.commit_s": "s", "poll.segments_planned": "count",
    "poll.segments_useful_ratio": "ratio", "lstore_log.segments": "count",
    "lstore_log.bytes_written": "B",
})
SETUP_STEPS = ("session", "fixture", "layout", "index", "codebook", "warmup")
PER_LAYER.update({f"setup.{s}_s": "s" for s in SETUP_STEPS})
SPAN_TOLERANCE = 0.10


def _env(root: str, work: str) -> None:
    """Keep every file Spark and the package write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "LSTORE_SPARK_SCRATCH_ROOT": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--driver-java-options", shlex.quote(
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"),
            "pyspark-shell"]),
    })
    os.makedirs(os.environ["LSTORE_SPARK_SCRATCH_ROOT"])
    sys.path[:0] = [root, HERE]


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(tr, setup: dict) -> dict:
    from workloads import p50

    out = {}
    for kind in OP_KINDS:
        ops = [o for o in tr.ops if o["kind"] == kind]
        for f in OP_FIELDS:
            out[f"{kind}.{f}"] = p50([o[f] for o in ops])

    def span_p50(name):
        return p50([s["dur_s"] for s in tr.spans if s["name"] == name])

    def op_p50(kind, field):
        return p50([o[field] for o in tr.ops if o["kind"] == kind])

    out.update({
        "consumers.tail_offset_s": span_p50("consumers.tail_offset"),
        "consumers.committed_offset_s": span_p50("consumers.committed_offset"),
        "consumers.commit_s": span_p50("consumers.commit_offset"),
        "poll.segments_planned": op_p50("poll", "segments_planned"),
        "poll.segments_useful_ratio": op_p50("poll", "segments_useful_ratio"),
        "lstore_log.segments": op_p50("append", "segments"),
        "lstore_log.bytes_written": op_p50("append", "bytes_written"),
    })
    out.update({f"setup.{s}_s": setup.get(s, 0.0) for s in SETUP_STEPS})
    return out


def _trace_report(tr, plain: dict, traced: dict) -> dict:
    """Span-sum self-check, per-key phase records and tracing overhead."""
    from workloads import p50

    off = [o for o in tr.ops
           if abs(o["wall_s"] - o["span_sum_s"]) > SPAN_TOLERANCE * o["wall_s"]]
    keys = sorted({o["key"] for o in tr.ops})
    return {
        "span_check": {"ops": len(tr.ops), "outside_10pct": len(off),
                       "ok": not off,
                       "worst": sorted(((o["key"], o["wall_s"], o["span_sum_s"])
                                        for o in off), key=lambda t: t[2] - t[1])[:5]},
        "per_key": {k: {name: p50([o[f] for o in tr.ops if o["key"] == k])
                        for name, f in (("build", "build_s"), ("plan", "plan_span_s"),
                                        ("exec", "exec_s"), ("sched", "sched_s"))}
                    for k in keys},
        "overhead": {m: traced[m] - v for m, v in plain.items()
                     if isinstance(v, float) and m in traced},
    }


def _reap_stale(base: str) -> None:
    """Remove work dirs left by runs that were killed."""
    for name in os.listdir(base) if os.path.isdir(base) else ():
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def run(args) -> int:
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "lstore_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of a repository checkout "
              "(lstore_spark/ and bench.py not found here)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    _reap_stale(base)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, root: str, work: str) -> int:
    _env(root, work)
    import host

    shape = host.host_shape(root)
    before = host.probes()
    setup: dict[str, float] = {}  # step -> process-tree CPU seconds
    setup_wall: dict[str, float] = {}

    @contextlib.contextmanager
    def timer(step):
        t0, c0 = time.perf_counter(), host.tree_cpu_s()[0]
        try:
            yield
        finally:
            setup[step] = setup.get(step, 0.0) + host.tree_cpu_s()[0] - c0
            setup_wall[step] = (setup_wall.get(step, 0.0)
                                + time.perf_counter() - t0)

    spark = None
    try:
        t_setup, (c_setup, j_setup) = time.perf_counter(), host.tree_cpu_s()
        with timer("session"):
            import workloads
            from lstore_spark.session import get_spark

            wl = workloads.WORKLOADS[args.workload](args.smoke)
            spark = get_spark("perfbench", cpus=CORES)
            spark.sparkContext.setLogLevel("ERROR")
        with timer("fixture"):
            fx = wl.make_inputs(work, args.seed)
        os.environ["LSTORE_SPARK_TEST_SF"] = fx  # lazy oracles read it
        wl.build(spark, fx, timer)
        rng = random.Random(args.seed)
        with timer("warmup"):
            warm = wl.warmup(spark, fx, rng)
        c, j = host.tree_cpu_s()
        setup_s, setup_jit_s = c - c_setup, j - j_setup
        setup_wall_s = time.perf_counter() - t_setup
        rss_setup = host.take_peak_rss_mb()

        if args.trace:
            from spans import Tracer

            measured = [wl.measure(spark, fx, rng, args.seconds / 2, None)]
            tr = Tracer(spark, args.workload, CORES)
            measured.append(wl.measure(spark, fx, rng, args.seconds / 2, tr))
        else:
            measured = [wl.measure(spark, fx, rng, args.seconds, None)]
        rss_loop = host.take_peak_rss_mb()
        t_check = time.perf_counter()
        bad = wl.check(spark, fx, measured)
        check_s = time.perf_counter() - t_check
        values = [wl.metrics(m) for m in measured]
    finally:
        if spark is not None:
            _stop_spark(spark)
        host.reap_children()
    after = host.probes()

    attempted = sum(len(m["ops"]) for m in measured)
    failed = sum(wl.failed(m, bad) for m in measured)
    e2e = dict(values[0], setup_s=setup_s)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "host": shape,
        "noise": host.noise_verdict(before, after),
        "setup_wall_s": setup_wall_s, "setup_jit_cpu_s": setup_jit_s,
        "setup_steps_wall_s": setup_wall,
        "setup_steps_cpu_s": setup, "warmup_rounds": warm, "check_s": check_s,
        "peak_rss_mb": {"timed_loop": rss_loop,
                        "whole_run": max(rss_setup, rss_loop)},
        "samples": len(measured[0]["ops"]),
        "op_wall_cpu_s": [(o["key"], round(o["wall_s"], 4), round(o["cpu_s"], 2))
                          for o in measured[0]["ops"]],
        "user_metrics": dict(wl.user_metrics(e2e),
                             failed_op_ratio=failed / max(1, attempted)),
        "end_to_end": {m: {"value": e2e[m], "unit": u}
                       for m, u in END_TO_END.items()},
        "detail": {k: v for k, v in values[0].items() if k not in END_TO_END},
        "failures": bad,
    }
    if args.trace:
        report = _trace_report(tr, values[0], values[1])
        context["tracing"] = {k: report[k] for k in ("span_check", "overhead")}
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as fh:
            json.dump(dict(report, context=context, spans=tr.spans, ops=tr.ops),
                      fh, default=str)
        context["trace_file"] = os.path.relpath(path, root)
        metrics = {m: {"value": v, "unit": PER_LAYER[m]}
                   for m, v in _layer_metrics(tr, setup).items()}
    else:
        metrics = context["end_to_end"]
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("olap_sf01", "llm_docs_10x", "log_append_poll"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, 1x corpus) for the smoke test")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
