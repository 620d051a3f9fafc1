"""Smoke test for the benchmark: every workload end to end at tiny sizes.

Run from the repository root:

    python3 perfbench/smoke.py

Each workload runs once traced at sf0.001 with a 1x corpus and a few log
cycles.  The test asserts that the run exits 0, that its outputs are
correct, that the last stdout line has exactly the contract's keys, and
that every metric ``BENCHMARK.json`` names is emitted with its unit (the
end-to-end ones from the untraced half, the per-layer ones from the
traced half).  It also checks that the benchmark refuses, with a non-zero
exit and no result, to run in a directory without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("olap_sf01", "log_append_poll", "llm_docs_10x")


def _run(cwd: str, workload: str, timeout: float) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", "1", "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _units(entries: list[dict]) -> dict[str, str]:
    return {e["name"]: e["unit"] for e in entries}


def check_workload(root: str, spec: dict, workload: str) -> float:
    t0 = time.perf_counter()
    proc = _run(root, workload, timeout=300)
    took = time.perf_counter() - t0
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{workload}: {result['attempted']} attempted, "
                             f"{result['failed']} failed: {context['failures']}")
    for label, want, got in (
            ("per_layer", _units(spec["per_layer"]), result["metrics"]),
            ("end_to_end", _units(spec["end_to_end"]), context["end_to_end"])):
        emitted = {m: v["unit"] for m, v in got.items()}
        if emitted != want:
            raise AssertionError(f"{workload}: {label} metrics differ from "
                                 f"BENCHMARK.json: {set(emitted) ^ set(want)} "
                                 f"or units {emitted}")
        if not all(isinstance(v["value"], (int, float)) for v in got.values()):
            raise AssertionError(f"{workload}: non-numeric {label} value")
    if not context["tracing"]["span_check"]["ok"]:
        raise AssertionError(f"{workload}: span check {context['tracing']}")
    return took


def check_refuses_without_program(root: str) -> None:
    bare = os.path.join(root, ".perfbench_work", f"smoke-bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(root, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "olap_sf01", timeout=60)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError("ran without the program present")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_refuses_without_program(root)
    print("refuses without the program: ok")
    for w in WORKLOADS:
        print(f"{w}: ok in {check_workload(root, spec, w):.1f} s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
